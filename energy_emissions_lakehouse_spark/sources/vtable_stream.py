"""Streaming source FROM a versioned table (Delta-as-a-streaming-source).

The vtable (operators/vtable.py) already serves as an exactly-once
streaming SINK; this module closes the loop and makes it a streaming
SOURCE, the way Delta tables feed downstream pipelines
(``spark.readStream.format("delta")``): each committed version is a
micro-batch, offsets are commit versions, and the immutable commit log
makes replays deterministic.

Semantics mirror Delta's documented source behavior:

- Data commits (``add`` only, no ``remove``) are streamed in commit
  order.  ``.option("maxVersionsPerBatch", k)`` caps commits per
  micro-batch (the maxFilesPerTrigger analog) so downstream sees the
  append history replayed version by version; the default (all
  available) is what trigger ``availableNow`` requires — it calls
  ``latestOffset`` exactly once, so an incremental cursor would
  silently truncate the stream (measured, pinned in tests).
- A commit that REMOVES segments (merge/delete/overwrite) is NOT
  expressible as an append stream.  By default the reader raises
  (Delta: "Detected a data update... This is currently not
  supported"); with ``.option("skipChangeCommits", "true")`` such
  commits are skipped wholesale (Delta's ``skipChangeCommits``).
  ``compact`` commits are content-identical (dataChange=false) and are
  always skipped — streaming their rewritten segment would duplicate
  every row.
- ``.option("readChangeFeed", "true")`` streams the row-level CHANGE
  FEED instead (Delta's streaming CDF): merge/delete commits emit the
  change segments they wrote at commit time (``cdf/`` —
  update_preimage/update_postimage/delete rows, the table's
  ``enable_cdf`` property), appends synthesize ``insert`` rows from
  their data segments (Delta does exactly this — appends write no CDC
  files), and every row is stamped with ``_change_type`` +
  ``_commit_version``.
- Offsets are ``{"version": v}`` dicts — exactly-once at the source:
  Spark checkpoints them, and a restarted query resumes from the
  committed version.  The log is immutable so re-reading a version
  yields identical rows.  Restart-safety holds in the default
  (all-available) mode because the log's latest version never
  regresses; a ``maxVersionsPerBatch`` query resumed from a checkpoint
  fails loudly instead of rewinding (its fresh cursor cannot know the
  committed offset — pinned in ``partitions``).

Scale: ``partitions()`` emits one InputPartition PER PARQUET PART FILE
of each added segment, so a batch's read is as parallel as the segment
was when written; rows cross the Python worker as Arrow RecordBatches
(columnar), never per-row.  Only O(files) path metadata touches the
driver — the same contract as the batch-side vtable reads.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from energy_emissions_lakehouse_spark.fsutil import session_memo
from energy_emissions_lakehouse_spark.operators.vtable import (
    LOG_DIR,
    _FEED_COLS,
    log_versions,
    read_commit,
)


class _SegmentFile(InputPartition):
    """One parquet part file of one committed segment, plus the stream's
    target Arrow schema (old segments may predate evolved columns;
    pyarrow schemas are picklable, so the executor gets exact types).
    In change-feed mode, ``version`` stamps ``_commit_version`` and
    ``kind`` says whether ``_change_type`` comes from the file (``cdf``)
    or is a synthesized ``insert`` (``data``); batch-mode partitions
    carry ``version=None``."""

    def __init__(self, path: str, target, version=None, kind="data"):
        self.path = path
        self.target = target
        self.version = version
        self.kind = kind


def _log_dir(root: str) -> str:
    return os.path.join(root, LOG_DIR)


# log access shared with operators/vtable.py — ONE implementation of
# "what is a commit file" (a private copy here once dropped the isdigit
# guard and crashed on stray JSON in _log/)
_versions = log_versions
_read_commit = read_commit


def _latest_version(root: str) -> int:
    """Newest committed version, with the mid-create crash window made a
    descriptive error: a ``_log/`` directory that exists but holds no
    commit files (writer crashed between mkdir and the first rename) is
    NOT 'not a versioned table' and must not surface as a bare
    IndexError from ``[-1]``."""
    versions = _versions(root)
    if not versions:
        raise FileNotFoundError(
            f"eel_vtable: {root} has a log directory but no committed "
            "versions (interrupted create?) — nothing to read yet"
        )
    return versions[-1]


def _target_arrow_schema(root: str, columns: list[str]):
    """The stream's target Arrow schema, resolved on the DRIVER from the
    newest committed segment's parquet footer (every vtable write aligns
    its batch to the commit schema, so the newest segment carries every
    column — including evolved ones — with the exact physical types).
    ONE implementation shared with the batch reader: this is its bounded
    footer walk, unbounded to the latest version."""
    from energy_emissions_lakehouse_spark.sources.vtable_batch import (
        _target_schema_at,
    )

    head = _latest_version(root)
    widen = _read_commit(root, head).get("widen")
    return _target_schema_at(root, columns, head, widen=widen)


class VtableStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema: StructType, options):
        if not os.path.isdir(_log_dir(root)):
            raise FileNotFoundError(f"not a versioned table: {root}")
        self._open_version = _latest_version(root)
        head = _read_commit(root, self._open_version)
        if head.get("renames"):
            # same v1 limit as the batch source: this reader aligns
            # per-file columns by NAME (pre-rename files would silently
            # null-fill the renamed column).  VersionedTable.read() /
            # change_feed() handle renamed tables.  DROPPED columns are
            # fine — name projection simply never requests them.
            raise ValueError(
                f"eel_vtable stream: table {root} has renamed columns; "
                "the Python DataSource read path is not rename-aware — "
                "use VersionedTable.read()/change_feed()"
            )
        self.root = root
        #: (name, type) shape of every column at stream OPEN — the
        #: schema every served commit must still carry.  Nullability is
        #: deliberately ignored: plain appends record their batch's
        #: nullability verbatim, which may differ commit to commit
        #: without changing what the stream serves.
        self._open_fields = [
            (f["name"], f["type"]) for f in head["schema"]["fields"]
        ]
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        #: commits per micro-batch (maxFilesPerTrigger analog).  0 = all
        #: available — REQUIRED under trigger availableNow, which calls
        #: latestOffset exactly once and would silently truncate an
        #: incremental cursor (measured); the per-version replay mode is
        #: for processAllAvailable-driven runs.
        self.max_versions = int(options.get("maxVersionsPerBatch", 0))
        #: soft byte cap per micro-batch (Delta's maxBytesPerTrigger):
        #: versions are admitted in commit order until the NEXT one
        #: would push the batch's added-segment bytes past the cap —
        #: but a batch always advances by at least one version, so a
        #: single over-cap commit still streams (Delta semantics).
        #: Bytes come from the LOG's per-segment "__bytes__" stats
        #: (recorded at commit time), falling back to an on-disk stat
        #: for pre-rev commits.  0 = unlimited.  Same availableNow /
        #: restart caveats as maxVersionsPerBatch (the cursor is
        #: per-reader; partitions() refuses offset regressions).
        self.max_bytes = int(options.get("maxBytesPerBatch", 0))
        #: Delta's startingVersion / startingTimestamp: begin the stream
        #: AT a commit instead of replaying the whole log — the partial-
        #: backfill pattern (resume CDC from a known point without
        #: re-delivering history).  startingVersion=N means version N is
        #: the FIRST delivered commit (Delta semantics); a timestamp
        #: resolves to the first commit whose ts is >= it (and to
        #: "nothing yet" past the head).  Mutually exclusive; only
        #: honored on a FRESH stream — on restart Spark's checkpoint
        #: offset wins (also Delta semantics: the option names where a
        #: NEW query begins, it never rewinds an existing one).
        sv = options.get("startingVersion")
        st = options.get("startingTimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "eel_vtable stream: startingVersion and "
                "startingTimestamp are mutually exclusive"
            )
        start_after = -1
        if sv is not None:
            start_after = int(sv) - 1
            if start_after < -1:
                raise ValueError(
                    f"eel_vtable stream: startingVersion must be >= 0, "
                    f"got {sv!r}"
                )
        elif st is not None:
            ts = float(st)
            start_after = self._open_version  # nothing yet, if all older
            for v in _versions(root):
                if float(_read_commit(root, v).get("ts") or 0) >= ts:
                    start_after = v - 1
                    break
        self._start_after = start_after
        self._cursor = start_after
        #: change-feed mode (Delta readChangeFeed): emit row-level changes
        #: instead of appended rows — merge/delete commits stream their
        #: commit-time cdf/ segments, appends synthesize inserts, compact
        #: commits are data-neutral and never emit.
        self.read_cdf = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        if self.read_cdf:
            # the declared schema carries the two stamp columns the
            # reader appends; the file-alignment target is the table part
            table_cols = [
                c for c in schema.fieldNames() if c not in _FEED_COLS
            ]
        else:
            # plain mode streams the table schema verbatim — a table that
            # legitimately STORES a _change_type column (e.g. a persisted
            # feed) must stream it like any other column
            table_cols = schema.fieldNames()
        self.target = _target_arrow_schema(root, table_cols)

    def initialOffset(self) -> dict:
        # only consulted on a FRESH stream (a restart replays the sink
        # checkpoint's committed offset instead) — exactly where the
        # startingVersion/startingTimestamp contract applies
        return {"version": self._start_after}

    def _entry_bytes(self, entry: dict) -> int:
        """Added-segment bytes of one commit, from the log's per-segment
        ``__bytes__`` stats (recorded at commit time); a pre-rev commit
        lacking them falls back to an on-disk stat of its part files.

        A pre-rev segment that was since REMOVED AND VACUUMED globs to
        zero files — that is unknown size, not 0 bytes: returning 0
        would let maxBytesPerBatch admit an arbitrarily long run of such
        historical versions into one micro-batch.  Unknown admits the
        version ALONE (returns >= the cap so the soft-cap loop stops
        after it)."""
        total = 0
        for rel in entry["add"]:
            rec = (entry.get("stats") or {}).get(rel) or {}
            b = rec.get("__bytes__")
            if b is None:
                parts = glob.glob(
                    os.path.join(self.root, rel, "part-*.parquet")
                )
                if not parts:
                    # vacuumed pre-rev segment: size unknown -> saturate
                    # to the cap (+1 so `acc + nxt > cap` trips even at
                    # acc == 0 for the NEXT version) = admit-one-at-a-
                    # time, the conservative reading of the cap
                    return (self.max_bytes + 1) if self.max_bytes > 0 \
                        else 1
                b = sum(os.path.getsize(p) for p in parts)
            total += int(b)
        return total

    def latestOffset(self) -> dict:
        latest = _versions(self.root)[-1]
        if self.max_versions > 0:
            latest = min(self._cursor + self.max_versions, latest)
        if self.max_bytes > 0 and latest > self._cursor:
            acc = 0
            v = self._cursor
            while v < latest:
                nxt_bytes = self._entry_bytes(
                    _read_commit(self.root, v + 1)
                )
                if acc and acc + nxt_bytes > self.max_bytes:
                    break  # soft cap: first version always admitted
                acc += nxt_bytes
                v += 1
            latest = v
        # a startingVersion past the head must idle (no batch) until the
        # log catches up — never report an offset BEHIND the start point
        # (Spark would plan a regressing batch)
        latest = max(latest, self._cursor)
        self._cursor = max(self._cursor, latest)
        return {"version": latest}

    def partitions(self, start: dict, end: dict) -> list[_SegmentFile]:
        if end["version"] < start["version"]:
            # Only reachable when a maxVersionsPerBatch query is resumed
            # from a checkpoint: the fresh reader's cursor restarts at -1,
            # so its first latestOffset lands BEHIND the committed offset.
            # Planning this batch would rewind Spark's offset and replay
            # already-delivered versions as duplicates — fail loudly
            # instead (default all-available mode never regresses: the
            # log's latest version only grows, so it is restart-safe).
            raise RuntimeError(
                "eel_vtable: offset would regress "
                f"({start['version']} -> {end['version']}); "
                "maxVersionsPerBatch replay is for fresh bounded runs — "
                "resume this checkpoint without the option"
            )
        parts: list[_SegmentFile] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            entry = _read_commit(self.root, v)
            if entry.get("renames") and v > self._open_version:
                # The __init__ guard only sees the head at stream OPEN.
                # A rename_column committed while the stream is running
                # would otherwise be served as ordinary evolution: post-
                # rename segments carry the new physical name and
                # align_arrow_table (no chains on this path) null-fills
                # the old-named column — silent NULLs for the renamed
                # column, the exact corruption the open-time guard
                # refuses.  Re-check every commit this reader serves.
                raise RuntimeError(
                    f"eel_vtable stream: version {v} renamed columns "
                    "after the stream opened; the Python DataSource read "
                    "path is not rename-aware — restart the query via "
                    "VersionedTable.read()/change_feed() (Delta also "
                    "refuses rename under column mapping for streaming "
                    "sources)"
                )
            if v > self._open_version and [
                (f["name"], f["type"])
                for f in entry["schema"]["fields"]
            ] != self._open_fields:
                # Delta's streaming-source schema-change semantics: ANY
                # schema change committed mid-stream FAILS the query; a
                # restart reopens with the new schema and resumes from
                # the checkpointed offset — already-delivered batches
                # stay delivered, the change commit's own rows arrive
                # under the new schema.  Serving it without restarting
                # would silently drop new columns / downcast widened
                # ones: the query's declared schema was fixed at open.
                # Compared against the OPEN schema itself — not op
                # labels — so a schema-evolving overwrite on an empty
                # live set (remove=[], no dv_add) cannot slip past as a
                # plain data commit.
                raise RuntimeError(
                    f"eel_vtable stream: version {v} ({entry['op']}) "
                    "changed the table schema after the stream opened "
                    "(Delta: 'Detected schema change... Please restart "
                    "the query') — restart the query to pick up the new "
                    "schema; the checkpoint offset is preserved and the "
                    "restarted reader serves old segments under the new "
                    "schema"
                )
            if entry["op"] in ("compact", "dv_compact"):
                # content-identical rewrites (segment bin-pack / DV
                # fold): dataChange=false, nothing to replay
                continue
            # a commit that removes segments OR adds a deletion vector
            # (merge-on-read delete: remove=[], rows masked by position)
            # changes existing rows — never replayable as a plain append.
            # RESTORE is a data change by definition (resurrected rows
            # are not appends), whatever its file-diff shape — Delta
            # sources treat it the same way.
            if (
                entry["remove"]
                or entry.get("dv_add")
                or entry["op"] == "restore"
            ):
                if self.read_cdf and entry.get("cdf"):
                    parts.extend(
                        _SegmentFile(p, self.target, version=v, kind="cdf")
                        for p in self._part_files(entry["cdf"])
                    )
                    continue
                if self.skip_change:
                    continue  # Delta skipChangeCommits: drop the commit
                raise RuntimeError(
                    f"vtable stream source: version {v} ({entry['op']}) "
                    "updates or deletes existing rows "
                    + (
                        "and wrote no change data — enable_cdf is a "
                        "create-time property and overwrite never emits a "
                        "feed; "
                        if self.read_cdf
                        else "which cannot be replayed as an append "
                        "stream; "
                    )
                    + "set .option('skipChangeCommits', 'true') to skip "
                    "such commits (Delta source semantics)"
                )
            for rel in entry["add"]:
                parts.extend(
                    _SegmentFile(
                        p,
                        self.target,
                        version=v if self.read_cdf else None,
                        kind="data",
                    )
                    for p in self._part_files(rel)
                )
        return parts

    def _part_files(self, rel: str) -> list[str]:
        seg = os.path.join(self.root, rel)
        if not os.path.isdir(seg):
            # same loud contract as the batch read path: a vacuumed
            # segment must never silently contribute zero rows
            raise FileNotFoundError(
                f"eel_vtable: stream references vacuumed segment {rel}"
            )
        return sorted(glob.glob(os.path.join(seg, "part-*.parquet")))

    def read(self, partition: _SegmentFile):
        """Executor-side: one part file -> Arrow RecordBatches, aligned
        to the stream's target schema (columns an old segment predates
        are null-filled with the exact target type, like the batch-side
        widened read).  Change-feed partitions append ``_change_type``
        (from the cdf file, or a synthesized ``insert`` for appended
        data segments) and the stamping ``_commit_version``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from energy_emissions_lakehouse_spark.sources.vtable_batch import (
            align_arrow_table,
        )

        table = pq.read_table(partition.path)
        n = table.num_rows
        aligned = align_arrow_table(table, partition.target)
        if partition.version is not None:  # change-feed mode
            if partition.kind == "cdf":
                change = table.column("_change_type").combine_chunks()
            else:
                change = pa.array(["insert"] * n, type=pa.string())
            aligned = aligned.append_column(
                pa.field("_change_type", pa.string()), change
            ).append_column(
                pa.field("_commit_version", pa.int64()),
                pa.array([partition.version] * n, type=pa.int64()),
            )
        yield from aligned.to_batches()

    def commit(self, end: dict) -> None:
        # the commit log is immutable — nothing to clean up; but a query
        # RESUMED from a checkpoint starts with a fresh reader whose
        # cursor must not lag the already-committed offset
        self._cursor = max(self._cursor, end["version"])

    def stop(self) -> None:
        pass


class VtableStreamDataSource(DataSource):
    """``spark.readStream.format("eel_vtable").option("path", root)`` —
    and, since the batch reader landed (sources/vtable_batch.py), also
    ``spark.read.format("eel_vtable")`` with Catalyst filter pushdown
    driving stats+bloom file pruning and ``.option("versionAsOf", v)``
    time travel."""

    @classmethod
    def name(cls) -> str:
        return "eel_vtable"

    def schema(self) -> StructType:
        root = self.options.get("path")
        if not root:
            raise ValueError("eel_vtable requires .option('path', <root>)")
        v_opt = self.options.get("versionAsOf")
        latest = int(v_opt) if v_opt is not None else _latest_version(root)
        base = StructType.fromJson(_read_commit(root, latest)["schema"])
        if str(self.options.get("readChangeFeed", "false")).lower() == "true":
            from pyspark.sql.types import LongType, StringType, StructField

            clash = set(_FEED_COLS) & set(base.fieldNames())
            if clash:
                raise ValueError(
                    "eel_vtable readChangeFeed: table column(s) "
                    f"{sorted(clash)} collide with the reserved change-"
                    "feed stamp columns (Delta reserves these names too)"
                )
            return StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType(), True),
                    StructField("_commit_version", LongType(), True),
                ]
            )
        return base

    def streamReader(self, schema: StructType) -> VtableStreamReader:
        return VtableStreamReader(self.options["path"], schema, self.options)

    def reader(self, schema: StructType):
        """Batch snapshot reads (``spark.read.format("eel_vtable")``):
        pushed filters prune files via the commit-log stats and bloom
        sidecars, deletion vectors apply as per-file position masks —
        see sources/vtable_batch.py."""
        if (
            str(self.options.get("readChangeFeed", "false")).lower()
            == "true"
        ):
            raise ValueError(
                "eel_vtable: readChangeFeed is a STREAMING option "
                "(use readStream); batch change queries go through "
                "VersionedTable.change_feed()"
            )
        from energy_emissions_lakehouse_spark.sources.vtable_batch import (
            VtableBatchReader,
        )

        return VtableBatchReader(self.options["path"], schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        """Batch writes (``df.write.format("eel_vtable")``): tasks write
        Arrow batches into one immutable segment, the driver folds ONE
        atomic vtable commit (stats/bloom/constraints through the same
        VersionedTable paths) — see sources/vtable_batch.py."""
        from energy_emissions_lakehouse_spark.sources.vtable_batch import (
            VtableBatchWriter,
        )

        return VtableBatchWriter(
            self.options["path"], schema, overwrite,
            replace_where=self.options.get("replaceWhere"),
        )


def register_vtable_source(spark) -> None:
    """Idempotent per-session registration.  Also enables Python
    DataSource filter pushdown (off by default in Spark 4.1; a plain
    runtime conf) — without it the batch reader's pushFilters() is an
    initialization ERROR, not a silent no-op."""

    def register() -> None:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(VtableStreamDataSource)

    session_memo(spark, ("vtable_stream.registered",), register)
