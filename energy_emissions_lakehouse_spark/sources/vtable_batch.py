"""Batch DataSource FROM a versioned table, with Catalyst filter pushdown.

This makes the vtable a first-class ``spark.read.format("eel_vtable")``
citizen (the Delta batch-read shape): the SAME registered source that
streams commits (sources/vtable_stream.py) also plans snapshot reads,
and — the point of this module — Spark 4.1's Python DataSource
``pushFilters`` API hands the WHERE clause's conjuncts to the planner,
which drives the vtable's own file-skipping machinery:

- range conjuncts (``=``, ``<``, ``<=``, ``>``, ``>=``) prune segments
  whose commit-log min/max stats are provably disjoint (the Iceberg
  manifest / Delta data-skipping path, :meth:`VersionedTable.pruned_segments`);
- equality and IN conjuncts additionally probe the per-segment BLOOM
  sidecars (:meth:`VersionedTable.prune_point`'s composition) — the case
  stats cannot catch (high-cardinality column, layout clustered by a
  different dimension);
- everything else is left for Spark: ``pushFilters`` returns ALL filters
  unchanged, because vtable pruning skips whole FILES — the row-level
  predicate is always re-applied engine-side, so correctness never rests
  on the pruning (the same residual contract as ``read_pruned``).

Deletion vectors are applied WITHOUT a join here: the active DV position
files are kilobytes (that is their point), so the planner loads them
driver-side and ships each part file's masked row indices inside its
InputPartition; the executor drops those positions from the Arrow table
it read — O(masked rows per file) memory, zero shuffle, and the mask
travels with exactly the file it masks.

``.option("versionAsOf", v)`` serves the pinned snapshot (schema AND
data of that version — the log-resolved live set, stats, and DV set are
all version-scoped), mirroring Delta's batch time travel.

Scale: one InputPartition per (surviving) parquet part file, rows cross
as Arrow RecordBatches — identical contract to the streaming reader.
Planning is O(log + skipped-file metadata) on the driver; the data read
is as parallel as the table's layout.
"""

from __future__ import annotations

import glob
import os

import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from energy_emissions_lakehouse_spark.operators.vtable import (
    DATA_DIR,
    ConcurrentCommitError,
    VersionedTable,
    _literal_frame,
)
from energy_emissions_lakehouse_spark.sources.vtable_stream import (
    _target_schema_at,
)


class _BatchFile(InputPartition):
    """One parquet part file of one live segment, its Arrow target
    schema, and the row positions active deletion vectors mask OUT of
    this specific file (empty tuple = plain scan)."""

    def __init__(
        self, path: str, target, masked: tuple[int, ...], chains=None
    ):
        self.path = path
        self.target = target
        self.masked = masked
        #: rename chains (logical -> retired names) for per-file
        #: first-present-wins column resolution; {} = unrenamed table
        self.chains = chains or {}


def align_arrow_table(table, target, chains: dict | None = None):
    """Align a parquet-read Arrow table to the target schema: project
    columns by name — falling back through a renamed column's retired
    chain names (a file stores EXACTLY ONE of them, so per-file
    first-present-wins is exact) — cast physical-type drift, null-fill
    columns a pre-evolution file predates.  ONE implementation shared
    by the batch and streaming readers (sources/vtable_stream.py)."""
    import pyarrow as pa

    chains = chains or {}
    n = table.num_rows
    arrays = []
    for field in target:
        src = next(
            (
                nm
                for nm in (field.name, *chains.get(field.name, []))
                if nm in table.column_names
            ),
            None,
        )
        if src is not None:
            col = table.column(src).combine_chunks()
            if col.type != field.type:
                col = col.cast(field.type)
            arrays.append(col)
        else:
            arrays.append(pa.nulls(n, type=field.type))
    return pa.Table.from_arrays(arrays, schema=target)


def _load_dv_masks(
    root: str, dvs: list[str]
) -> dict[tuple[str, str], tuple[int, ...]]:
    """Fold the active deletion-vector files into
    ``{(segment dir, part file): masked row positions}`` — driver-side
    pyarrow reads of kilobyte position files (never a Spark job)."""
    import pyarrow.parquet as pq

    masks: dict[tuple[str, str], list[int]] = {}
    for rel in dvs:
        for part in sorted(
            glob.glob(os.path.join(root, rel, "part-*.parquet"))
        ):
            tbl = pq.read_table(
                part, columns=["_dv_seg", "_dv_file", "_dv_pos"]
            )
            for seg, fname, pos in zip(
                tbl.column("_dv_seg").to_pylist(),
                tbl.column("_dv_file").to_pylist(),
                tbl.column("_dv_pos").to_pylist(),
            ):
                masks.setdefault((seg, fname), []).append(pos)
    return {k: tuple(sorted(set(v))) for k, v in masks.items()}


def _overlaps(mn, mx, lo, hi) -> bool:
    """Conservative range-overlap: True (scan) whenever the comparison
    cannot be trusted — incomparable types (a date probe against string
    stats, say) must never skip a file."""
    try:
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:
        return True
    return True


class VtableBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, options):
        self.root = root
        self.columns = schema.fieldNames()
        # metadata-only handle: planning uses the commit log, stats and
        # bloom sidecars — never a Spark job (spark=None is safe for
        # every method the planner touches)
        vt = VersionedTable(None, root)
        v_opt = options.get("versionAsOf")
        snap = vt._replay(int(v_opt) if v_opt is not None else None)
        entry = snap["entry"]
        #: rename chains of the served snapshot (logical -> retired
        #: physical names): per-file projection falls back through them
        #: (a file stores exactly one of the names), and stats/bloom
        #: pruning resolves a pushed column through them
        self.chains = entry.get("renames") or {}
        #: widen map of the served snapshot (logical -> widened
        #: simpleString): overrides footer types in the target schema so
        #: a metadata-only type widening is visible before any wide
        #: segment exists
        self.widen = entry.get("widen") or {}
        self.version = snap["version"]
        self.live = snap["live"]
        self.dvs = snap["dvs"]
        #: per-segment stats and partition tuples of the same snapshot,
        #: for partitions() — driver-side only (see __getstate__)
        self._meta = (snap["stats"], snap["pvs"])
        #: pruning conjuncts gathered by pushFilters:
        #: [(col, lo, hi, is_point, values)] — see pushFilters
        self._bounds: list[tuple] = []

    def __getstate__(self):
        # an executor's read() needs only its partition: the O(live)
        # planning metadata (HLL sketches included) stays on the driver
        return {k: v for k, v in self.__dict__.items() if k != "_meta"}

    def pushFilters(self, filters):
        """Gather the conjuncts the vtable can prune FILES with; return
        ALL filters (Spark re-applies every predicate row-level — the
        pruning contract is skip-provably-disjoint, never filter)."""
        for f in filters:
            # top-level scalar columns only (ColumnPath of length 1)
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            if isinstance(f, EqualTo):
                self._bounds.append((col, f.value, f.value, True, (f.value,)))
            elif isinstance(f, In):
                vals = tuple(v for v in f.value if v is not None)
                if vals:
                    try:
                        lo, hi = min(vals), max(vals)
                    except TypeError:
                        continue
                    self._bounds.append((col, lo, hi, True, vals))
            elif isinstance(f, GreaterThan) or isinstance(
                f, GreaterThanOrEqual
            ):
                self._bounds.append((col, f.value, None, False, ()))
            elif isinstance(f, LessThan) or isinstance(f, LessThanOrEqual):
                self._bounds.append((col, None, f.value, False, ()))
        return filters  # everything stays row-level engine-side

    def partitions(self) -> list[_BatchFile]:
        if self._bounds:
            # stats walk + bloom loading only when there is something to
            # prune WITH — an unfiltered scan pays neither
            from energy_emissions_lakehouse_spark.operators.vtable import (
                partition_skips,
            )

            vt = VersionedTable(None, self.root)
            stats, pvs = self._meta
            bloom_cols, _, _ = vt.bloom_props
            survivors = []
            for rel in self.live:
                keep = True
                for col, lo, hi, is_point, values in self._bounds:
                    # partition-value pruning FIRST (Iceberg order):
                    # pure tuple comparison, no stats or bloom I/O
                    if partition_skips(
                        pvs.get(rel), col, lo, hi, is_point=is_point
                    ):
                        keep = False
                        break
                    names = [col, *self.chains.get(col, [])]
                    seg_stats = stats.get(rel, {})
                    mn_mx = next(
                        (seg_stats[n] for n in names if n in seg_stats),
                        None,
                    )
                    if mn_mx is not None and not _overlaps(
                        mn_mx[0], mn_mx[1], lo, hi
                    ):
                        keep = False
                        break
                    if (
                        is_point
                        # creation-time bloom columns match through the
                        # chain (post-rename sidecars index the current
                        # name via the writer's expanded set)
                        and set(names) & set(bloom_cols)
                        and all(
                            isinstance(v, (int, str))
                            and not isinstance(v, bool)
                            for v in values
                        )
                        # a value MIGHT be present only if every chain
                        # name answers True (a definitive False can only
                        # come from the file's one physical column)
                        and not any(
                            all(
                                vt._bloom_might_contain(rel, n, v)
                                for n in names
                            )
                            for v in values
                        )
                    ):
                        keep = False
                        break
                if keep:
                    survivors.append(rel)
        else:
            survivors = list(self.live)
        target = _target_schema_at(
            self.root, self.columns, self.version, self.chains, self.widen
        )
        masks = _load_dv_masks(self.root, self.dvs) if self.dvs else {}
        parts: list[_BatchFile] = []
        for rel in sorted(survivors):
            seg_dir = os.path.basename(rel)
            for path in sorted(
                glob.glob(os.path.join(self.root, rel, "part-*.parquet"))
            ):
                parts.append(
                    _BatchFile(
                        path,
                        target,
                        masks.get((seg_dir, os.path.basename(path)), ()),
                        self.chains,
                    )
                )
        return parts

    def read(self, partition: _BatchFile):
        """Executor-side: one part file -> Arrow RecordBatches aligned
        to the snapshot schema (pre-evolution files null-fill missing
        columns), with this file's deletion-vector positions dropped by
        row index — no join, the mask travelled with the partition."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        if partition.masked:
            keep = [True] * table.num_rows
            for pos in partition.masked:
                keep[pos] = False
            table = table.filter(pa.array(keep, type=pa.bool_()))
        yield from align_arrow_table(
            table, partition.target, partition.chains
        ).to_batches()


@dataclass
class _WriteMessage(WriterCommitMessage):
    """One task's contribution: the part file it wrote (None for an
    empty task) and its row count."""

    filename: str | None = None
    rows: int = 0


class VtableBatchWriter(DataSourceArrowWriter):
    """``df.write.format("eel_vtable").mode(...).save()`` — the write
    half of the DataFrame-API symmetry, mapped onto the vtable's
    two-phase protocol exactly the way a real lakehouse writer works:

    - each TASK streams its Arrow batches into one immutable parquet
      part file inside a fresh segment directory (invisible until a
      commit references it — a failed job strands an orphan for vacuum,
      never a torn table);
    - the DRIVER's ``commit()`` hands that one segment to the commit
      half of the matching :class:`VersionedTable` write —
      :meth:`~VersionedTable.create_segment`,
      :meth:`~VersionedTable.append_segment`,
      :meth:`~VersionedTable.overwrite_segment` or
      :meth:`~VersionedTable.replace_where_segment`.  That is the code
      that commits the API's own writes, so the sink gets their checks
      (reserved names, schema-on-write, CHECK constraints), their
      metadata rules and their race rules, and keeps no commit code of
      its own.

    ``mode("append")`` requires the exact table schema (Delta
    schema-on-write); ``mode("overwrite")`` replaces the live set and
    MAY change the schema (Delta overwriteSchema).  Writing to a root
    with no table yet CREATES it (Delta's save-to-new-path), under
    either mode; a create that loses the version-0 race to another
    creator writes to the winner's table instead.

    ``.option("replaceWhere", "<sql predicate>")`` with
    ``mode("overwrite")`` narrows the overwrite to the predicate slice
    (Delta's replaceWhere writer option): every batch row must satisfy
    the predicate, untouched files stay live, and the schema must match
    exactly (a scoped replace never evolves the schema).
    """

    def __init__(
        self,
        root: str,
        schema: StructType,
        overwrite: bool,
        replace_where: str | None = None,
    ):
        self.root = root
        self.schema = schema
        self.overwrite = overwrite
        self.replace_where = replace_where
        if replace_where is not None and not overwrite:
            raise ValueError(
                "eel_vtable: replaceWhere requires mode('overwrite') "
                "(Delta writer semantics)"
            )
        try:
            VersionedTable(None, root).latest_version()
            self.creating = False
        except FileNotFoundError:  # no log, or a log with no commit yet
            self.creating = True
        # one fresh segment dir per job — tasks write part files into it
        self.rel = os.path.join(DATA_DIR, f"write-{uuid.uuid4().hex[:12]}")

    #: Row-group sizing targets (guide §6 — file layout): every incoming
    #: Arrow batch is capped at spark.sql.execution.arrow.maxRecordsPerBatch
    #: (default 10,000 rows), and ``ParquetWriter.write_batch`` closes a
    #: row group PER CALL — an unbuffered loop therefore wrote one tiny
    #: row group per batch (measured: 5 x 10k-row groups in a 1.1 MB
    #: part file), which multiplies footer/stats entries and row-group
    #: boundaries every reader and the commit's stats fold must walk.
    #: Buffer batches and flush row groups at a real target instead;
    #: memory per task is bounded by the byte cap.
    _ROW_GROUP_ROWS = 1 << 20  # 1M rows
    _ROW_GROUP_BYTES = 128 << 20  # 128 MB in-memory Arrow bytes

    # -------------------------------------------------------- executor side
    def write(self, iterator) -> _WriteMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        seg = os.path.join(self.root, self.rel)
        os.makedirs(seg, exist_ok=True)
        writer = None
        rows = 0
        fname = f"part-{uuid.uuid4().hex}.parquet"
        path = os.path.join(seg, fname)
        buf: list = []
        buf_rows = 0
        buf_bytes = 0

        def _flush():
            nonlocal buf, buf_rows, buf_bytes
            if buf:
                writer.write_table(pa.Table.from_batches(buf))
                buf, buf_rows, buf_bytes = [], 0, 0

        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(path, batch.schema)
                buf.append(batch)
                buf_rows += batch.num_rows
                buf_bytes += batch.nbytes
                rows += batch.num_rows
                if (
                    buf_rows >= self._ROW_GROUP_ROWS
                    or buf_bytes >= self._ROW_GROUP_BYTES
                ):
                    _flush()
            if writer is not None:
                _flush()
        except BaseException:
            # a FAILED task must not leave a readable parquet behind —
            # close() in a bare finally would finalize a VALID file with
            # partial rows, and a retry would add a second complete copy
            if writer is not None:
                writer.close()
                try:
                    os.unlink(path)
                except OSError:
                    pass
            raise
        if writer is None:
            return _WriteMessage(None, 0)  # empty task: no file
        writer.close()
        return _WriteMessage(fname, rows)

    # ---------------------------------------------------------- driver side
    def commit(self, messages) -> None:
        # the commit callback can run on a driver thread with no ACTIVE
        # session (getActiveSession -> None); getOrCreate() returns the
        # process's existing session rather than building a new one
        spark = SparkSession.getActiveSession()
        if spark is None:
            spark = SparkSession.builder.getOrCreate()
        # the commit references the segment DIRECTORY, so the directory
        # must hold exactly the files the SUCCESSFUL task attempts
        # reported — sweep anything else (a speculative duplicate, or a
        # file a failed attempt could not unlink) before it is published
        files = set(m.filename for m in messages if m and m.filename)
        seg = os.path.join(self.root, self.rel)
        if os.path.isdir(seg):
            for name in os.listdir(seg):
                if name not in files:
                    try:
                        os.unlink(os.path.join(seg, name))
                    except OSError:
                        pass
        if self.replace_where is not None and self.creating and files:
            # replaceWhere onto a fresh path degrades to a create, but
            # the batch contract still holds: every row must satisfy the
            # predicate (validated BEFORE the log exists — a rejected
            # batch leaves no half-created table)
            n_bad = (
                spark.read.schema(self.schema)
                .parquet(seg)
                .where(~F.coalesce(F.expr(self.replace_where), F.lit(False)))
                .limit(1)
                .count()
            )
            if n_bad:
                shutil.rmtree(seg, ignore_errors=True)
                raise ValueError(
                    "eel_vtable replaceWhere: batch rows must ALL "
                    f"satisfy the predicate ({self.replace_where}) — "
                    "batch rejected, nothing created"
                )
        written = bool(files)
        if not written and (
            self.creating or (self.overwrite and self.replace_where is None)
        ):
            # a create or overwrite must leave a readable head even for
            # an empty frame: materialize an empty segment so the schema
            # has a footer to serve
            _literal_frame(spark, self.schema).write.mode(
                "overwrite"
            ).parquet(seg)
            written = True
        if self.creating:
            try:
                VersionedTable.create_segment(
                    spark, self.root, self.rel, self.schema
                )
                return
            except ConcurrentCommitError:
                pass  # another creator won version 0: write to its table
        vt = VersionedTable(spark, self.root)
        if self.replace_where is not None:
            vt.replace_where_segment(
                self.rel if written else None, self.replace_where,
                self.schema,
            )
        elif self.overwrite:
            vt.overwrite_segment(self.rel, self.schema)
        elif written:  # an empty append commits nothing
            vt.append_segment(self.rel, self.schema)

    def abort(self, messages) -> None:
        # nothing referenced the segment — remove it; a failed rmtree
        # only strands a vacuumable orphan.  NEVER remove the root: even
        # on the creating path a CONCURRENT creator may have committed a
        # real table here between planning and abort (and the root may
        # hold pre-existing unrelated files); an empty data/_log pair
        # left by an aborted sole creator is inert.
        shutil.rmtree(os.path.join(self.root, self.rel), ignore_errors=True)
