"""Multi-table transactions over versioned tables: a catalog of
pinned table versions with one atomic pointer-swap commit.

The reference's warehouse load
(/root/reference/src/30_load/load_to_postgres.py:73-117) replaces and
upserts SEVERAL tables inside ONE Postgres transaction — a consumer
never observes table A loaded and table B not.  Per-table, the vtable
commit log (operators/vtable.py) already gives atomicity; what it
deliberately does not give is atomicity ACROSS tables.  Delta has the
same gap; Iceberg closes it at the CATALOG: a transaction commits by
atomically swapping the catalog's table→snapshot pointers, so readers
that resolve tables through the catalog see either every table's old
version or every table's new version, never a mix.  This module is
that shape, on the same commit-log primitives:

- ``<root>/_catalog/<v020>.json``: one JSON commit per catalog version
  holding the full ``{name: {root, version}}`` pointer map.  Claimed
  atomically via ``os.link`` exactly like a table commit — one writer
  wins a version slot, a half-written map is never visible under its
  final name.
- A transaction (:meth:`TableCatalog.begin`) writes against a PRIVATE
  BRANCH of each participating table — a zero-copy hardlink clone
  (:meth:`VersionedTable.clone_to`) of the catalog-pinned cut, the
  hardlink analog of Iceberg's staged snapshots / Nessie branches — so
  its table commits are invisible to every other reader and writer
  until the catalog swap.  ``commit()`` then writes ONE catalog entry
  repointing each participant to its branch (root AND version).
  Readers through :meth:`TableCatalog.read` get the pinned cut —
  cross-table snapshot isolation by construction, because a catalog
  version IS a consistent cut.
- Crash/abort semantics: a transaction that dies mid-flight leaves
  only orphaned branch directories under ``_txn/`` — the catalog, the
  source tables, and every reader are untouched, and a RETRY branches
  fresh from the current pin, so nothing a failed attempt wrote can
  leak into the lineage (no double-apply on re-run; branch leftovers
  are swept opportunistically at catalog open).
- Isolation from table-level writers: because the branch is private,
  rows written by ANY other writer after ``begin()`` — another
  transaction, or a direct table append outside the catalog — can
  never ride into this transaction's published cut.  The catalog
  commit publishes exactly what this transaction wrote on top of the
  cut it branched from, or nothing.
- Concurrency: catalog commits are optimistic.  ``commit()`` validates
  that no OTHER catalog commit has moved a PARTICIPATING table's
  pointer since ``begin()`` (write-write conflict → raises; the caller
  re-runs against a fresh branch — safe BECAUSE branches are private);
  non-participating tables' pointers are carried forward from the
  CURRENT head, so disjoint transactions interleave freely.
- Old roots/branches referenced by RETAINED catalog versions stay on
  disk for time travel; branch garbage collection beyond the
  stale-orphan sweep (like table vacuum) is the deployment's catalog
  GC, out of scope here.

Scale notes (100 TB): the catalog holds O(tables) pointers — bytes of
driver metadata; the data work is whatever the per-table writes cost.
On a real deployment the ``os.link`` claim becomes the catalog
service's conditional-put / compare-and-swap, same as the table log.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from energy_emissions_lakehouse_spark.operators.vtable import (
    LOG_DIR,
    ConcurrentCommitError,
    VersionedTable,
    _fmt_version,
    claim_commit,
    log_versions,
)

CATALOG_DIR = "_catalog"
#: Transaction branches (zero-copy clones) live here, one directory per
#: (table, transaction).  A committed branch becomes the table's
#: catalog-referenced root; an abandoned one is an orphan swept at
#: catalog open once it is old enough to be provably not in flight.
TXN_DIR = "_txn"
#: Grace window before an unreferenced branch is swept (same in-flight
#: protection rationale as VersionedTable.vacuum's orphan_grace_s).
BRANCH_GRACE_S = 3600.0


def _sweep_hostname() -> str:
    """This host's name with every non-[A-Za-z0-9_] squashed to ``_`` so
    it can live as ONE dash-delimited token in a branch directory name
    (hostnames legally contain ``-`` and ``.``, which would break the
    right-anchored rsplit parse)."""
    return re.sub(r"[^A-Za-z0-9_]", "_", socket.gethostname()) or "unknown"


class CatalogConflictError(RuntimeError):
    """Another transaction moved a participating table's pointer."""


class TableCatalog:
    """A versioned name→(table root, pinned version) map with atomic
    multi-table pointer-swap commits (Iceberg catalog shape)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # absolute from the start: branch roots derive from this and are
        # stored VERBATIM in catalog commits — a cwd-relative root would
        # make the sweep's referenced-set resolve against the OPENER's
        # cwd and misclassify committed branches as orphans
        self.root = os.path.abspath(root)
        self._dir = os.path.join(self.root, CATALOG_DIR)
        if not os.path.isdir(self._dir):
            raise FileNotFoundError(f"not a catalog (no {CATALOG_DIR}/): {root}")
        self._sweep_stale_branches()

    def _sweep_stale_branches(self) -> None:
        """Opportunistically delete transaction branches that no catalog
        version references and whose CREATING PROCESS IS DEAD — the
        leftovers of crashed/conflicted transactions.  Branch directory
        names embed the creator's HOSTNAME and pid: ``os.kill(pid, 0)``
        only answers liveness for THIS host, so the pid probe is
        honored only when the branch's host token matches ours — on
        shared storage (NFS) a foreign host's live pid would otherwise
        read as dead here and an IN-FLIGHT foreign transaction's branch
        would be reaped out from under its later commit.  Same-host
        live pid means a possibly-in-flight transaction and the branch
        is kept NO MATTER ITS AGE (mtime cannot be trusted — writes
        land in subdirectories and never refresh the parent's mtime, so
        an age cutoff would reap a long-running live transaction).
        Foreign-host and legacy/unparseable names fall back to the
        mtime grace window — the conservative cross-host signal (this
        also bounds the pid-reuse hazard: a recycled pid can pin a dead
        branch only on its OWN host, never sweep a live one).  Cheap on
        the common path: the referenced-set (one JSON read per catalog
        version) is built only after a sweep CANDIDATE is found."""
        txn_root = os.path.join(self.root, TXN_DIR)
        if not os.path.isdir(txn_root):
            return
        candidates: list[str] = []
        now = time.time()
        our_host = _sweep_hostname()
        for name in sorted(os.listdir(txn_root)):
            path = os.path.join(txn_root, name)
            # new format: <table>-<host>-<pid>-<uuid8>; host/pid/uuid
            # tokens are dash-free so the right-anchored split is exact
            parts = name.rsplit("-", 3)
            host, pid = None, None
            if len(parts) == 4 and parts[2].isdigit():
                host, pid = parts[1], int(parts[2])
            if host == our_host and pid is not None:
                if pid == os.getpid():
                    continue  # ours — possibly this process's live txn
                try:
                    os.kill(pid, 0)
                    continue  # creator alive: possibly in flight
                except ProcessLookupError:
                    pass  # dead creator: sweepable if unreferenced
                except OSError:
                    continue  # pid exists but isn't ours — leave it
            else:
                # foreign host (pid unprobeable here) or legacy name:
                # trust only age
                try:
                    if now - os.path.getmtime(path) < BRANCH_GRACE_S:
                        continue  # young: keep
                except OSError:
                    continue  # vanished under us
            candidates.append(path)
        if not candidates:
            return
        versions = self._versions()
        referenced = {
            os.path.realpath(ent["root"])
            for v in versions
            for ent in self._read(v)["tables"].values()
        }
        seen_head = versions[-1] if versions else -1
        for path in candidates:
            # TOCTOU refresh (same fix as VersionedTable.vacuum): a
            # catalog commit can land between the referenced-set fold
            # and this delete — e.g. a FOREIGN host's old-looking
            # branch publishing mid-sweep — and deleting its
            # newly-referenced root would break catalog reads.  Fold
            # only the commits that appeared since the last check;
            # candidates are rare, so this is O(new commits) total.
            try:
                new_head = self.latest_version()
            except FileNotFoundError:
                new_head = seen_head
            if new_head > seen_head:
                for v in range(seen_head + 1, new_head + 1):
                    try:
                        referenced |= {
                            os.path.realpath(ent["root"])
                            for ent in self._read(v)["tables"].values()
                        }
                    except OSError:
                        continue  # racing writer mid-claim: next open
                seen_head = new_head
            if os.path.realpath(path) not in referenced:
                shutil.rmtree(path, ignore_errors=True)

    # ------------------------------------------------------------------ init
    @classmethod
    def create(
        cls, spark: SparkSession, root: str, tables: dict[str, str]
    ) -> "TableCatalog":
        """Initialize with catalog version 0 pinning each table's
        CURRENT head.  ``tables`` maps name → versioned-table root; every
        root must already be a vtable (the catalog never creates
        tables, it only points at them)."""
        entries = {}
        for name, t_root in tables.items():
            t_root = os.path.abspath(t_root)  # stored verbatim: never cwd-relative
            vt = VersionedTable(spark, t_root)  # raises if not a table
            entries[name] = {"root": t_root, "version": vt.latest_version()}
        cat_dir = os.path.join(root, CATALOG_DIR)
        if os.path.isdir(cat_dir):
            raise FileExistsError(f"catalog already exists: {root}")
        os.makedirs(cat_dir, mode=0o700)
        cat = cls(spark, root)
        cat._commit(0, entries, op="create")
        return cat

    # ------------------------------------------------------------- log layer
    def _path(self, version: int) -> str:
        return os.path.join(self._dir, _fmt_version(version) + ".json")

    def _versions(self) -> list[int]:
        return log_versions(self._dir)

    def latest_version(self) -> int:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"empty catalog log: {self._dir}")
        return versions[-1]

    def _read(self, version: int) -> dict:
        with open(self._path(version)) as fh:
            return json.load(fh)

    def _commit(self, version: int, entries: dict, op: str) -> None:
        """Atomically claim catalog ``version`` — the table log's claim
        (:func:`claim_commit`): one writer wins, a torn map is never
        visible under the final name."""
        claim_commit(
            self._path(version),
            {"version": version, "op": op, "tables": entries,
             "ts": time.time()},
            f"catalog version {version} of {self.root} was committed by "
            "another writer — re-read and retry",
        )

    # --------------------------------------------------------------- reading
    def entries(self, version: int | None = None) -> dict[str, dict]:
        """The pinned ``{name: {root, version}}`` map at a catalog
        version (default: head)."""
        if version is None:
            version = self.latest_version()
        return self._read(version)["tables"]

    def table(self, name: str, version: int | None = None) -> VersionedTable:
        """The UNPINNED maintenance handle for the root the given
        catalog version points at (vacuum, history, detail — operations
        on the table object itself).  For consistent-cut DATA reads use
        :meth:`read`, which serves the pinned version; for
        transactional writes use :meth:`begin` — writing through this
        handle bypasses transaction isolation (the write lands on the
        shared root but stays unpublished until some transaction pins
        past it)."""
        ent = self.entries(version).get(name)
        if ent is None:
            raise KeyError(f"catalog has no table {name!r}")
        return VersionedTable(self.spark, ent["root"])

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read ``name`` at the catalog's pinned table version — the
        consistent-cut read.  Two ``read`` calls against the SAME
        catalog version can never observe a torn multi-table
        transaction, because the pointer map is one immutable commit."""
        ent = self.entries(version).get(name)
        if ent is None:
            raise KeyError(f"catalog has no table {name!r}")
        return VersionedTable(self.spark, ent["root"]).read(ent["version"])

    def history(self) -> list[dict]:
        return [self._read(v) for v in self._versions()]

    def version_at(self, ts: float) -> int:
        """The catalog version ACTIVE at wall-clock ``ts`` — the newest
        commit at or before it (the Nessie/tag time-travel shape at the
        catalog level, mirroring :meth:`VersionedTable.version_at`)."""
        cand = [v for v in self._versions() if self._read(v)["ts"] <= ts]
        if not cand:
            raise ValueError(
                f"catalog {self.root} has no version at or before "
                f"ts={ts} (first commit is later)"
            )
        return cand[-1]

    def read_as_of(self, catalog_version: int) -> "CatalogSnapshot":
        """A CROSS-TABLE-CONSISTENT historical cut: every table served
        at the version THIS catalog commit pinned (the Nessie tag /
        Iceberg catalog-snapshot shape).  Per-table time travel cannot
        give this — two tables' version clocks are independent, and
        picking 'versions that existed around the same time' can
        straddle a multi-table transaction; the catalog commit is the
        only record of which cuts were ever simultaneously visible.
        The snapshot is immutable (one JSON map) — reads through it are
        repeatable regardless of later commits."""
        return CatalogSnapshot(self, catalog_version)


    def begin(self) -> "CatalogTransaction":
        """Start a multi-table transaction against the current head."""
        return CatalogTransaction(self)


class CatalogTransaction:
    """Write-side of the multi-table commit: :meth:`table` hands out a
    PRIVATE BRANCH of each participant (a zero-copy hardlink clone of
    the catalog-pinned cut); ordinary vtable writes land on the branch,
    invisible to everyone; :meth:`commit` repoints every participant's
    catalog entry at its branch in ONE atomic catalog commit.  The
    published cut contains exactly this transaction's writes on top of
    the cut it branched from — a concurrent writer's rows (another
    transaction's, or a direct table write) can never ride along,
    and a crashed or conflicted attempt leaves nothing in any lineage
    (its branch is an orphan directory, swept at catalog open)."""

    def __init__(self, catalog: TableCatalog):
        self.catalog = catalog
        self.base_version = catalog.latest_version()
        self.base = catalog.entries(self.base_version)
        self._branches: dict[str, VersionedTable] = {}
        #: the branch head at creation — a participant whose branch
        #: never moved past this was only READ and must not be
        #: repointed at commit (nor conflict with real writers)
        self._branch_base: dict[str, int] = {}

    def table(self, name: str) -> VersionedTable:
        """The transaction's writable BRANCH of a participant: cloned
        zero-copy from the catalog-pinned cut on first access (and
        TRUNCATED to the pinned version if the shared root's head had
        moved past it), then reused for the transaction's lifetime.
        Truncation — deleting the PRIVATE branch log's post-pin commit
        files — makes the branch exactly the pinned lineage: no restore
        commit (which would cost a constraint re-validation scan and
        poison the branch's change feed with a feed-less data-change
        commit), and no foreign unpublished writes in the lineage.  The
        branch directory name embeds this HOST and process pid, the
        liveness claim :meth:`TableCatalog._sweep_stale_branches`
        honors (pid probes are meaningless across hosts)."""
        branch = self._branches.get(name)
        if branch is not None:
            return branch
        ent = self.base.get(name)
        if ent is None:
            raise KeyError(f"catalog has no table {name!r}")
        src = VersionedTable(self.catalog.spark, ent["root"])
        dest = os.path.join(
            self.catalog.root,
            TXN_DIR,
            f"{name}-{_sweep_hostname()}-{os.getpid()}-{uuid.uuid4().hex[:8]}",
        )
        branch = src.clone_to(dest)
        if branch.latest_version() != ent["version"]:
            # the shared root moved past the pin (an unpublished direct
            # write, or a later cut): truncate the private log back to
            # the pinned cut — post-pin segments stay as inert orphans
            log_dir = os.path.join(branch.root, LOG_DIR)
            for fname in os.listdir(log_dir):
                stem = fname.split(".", 1)[0]
                if stem.isdigit() and int(stem) > ent["version"]:
                    os.unlink(os.path.join(log_dir, fname))
        self._branch_base[name] = ent["version"]
        self._branches[name] = branch
        return branch

    def commit(self, retries: int = 16) -> int:
        """Atomically publish every participant's branch head in one
        catalog commit (root AND version repointed).  Optimistic: if
        ANOTHER transaction moved a PARTICIPATING pointer since
        begin(), raises :class:`CatalogConflictError` — the caller
        re-runs the transaction, which is SAFE because the failed
        attempt's writes live only on its orphaned branch; pointers of
        non-participating tables are carried forward from the current
        head so disjoint transactions interleave without conflict.
        A participant that was only READ (its branch never moved past
        the clone point) is NOT repointed and does not conflict —
        snapshot isolation, not serializability: its throwaway branch
        becomes a sweepable orphan."""
        written = {
            name: branch
            for name, branch in self._branches.items()
            if branch.latest_version() != self._branch_base[name]
        }
        if not written:
            return self.base_version  # nothing written: no-op
        for _ in range(retries):
            head_v = self.catalog.latest_version()
            current = self.catalog.entries(head_v)
            conflicted = [
                name
                for name in written
                if current[name]["version"] != self.base[name]["version"]
                or current[name]["root"] != self.base[name]["root"]
            ]
            if conflicted:
                raise CatalogConflictError(
                    f"table(s) {sorted(conflicted)} moved since begin() "
                    f"(catalog v{self.base_version} -> v{head_v}) — "
                    "re-run the transaction against the new snapshot"
                )
            entries = {
                name: dict(ent) for name, ent in current.items()
            }
            for name, branch in written.items():
                entries[name] = {
                    "root": branch.root,
                    "version": branch.latest_version(),
                }
            try:
                self.catalog._commit(head_v + 1, entries, op="txn")
                return head_v + 1
            except ConcurrentCommitError:
                continue  # a DISJOINT txn won the slot: re-validate, retry
        raise ConcurrentCommitError(
            f"catalog txn: lost {retries} consecutive commit races"
        )


class CatalogSnapshot:
    """An immutable view of one catalog version: ``read(name)`` serves
    the cut's pinned table version; all reads are mutually consistent
    by construction (they come from one atomic pointer-map commit)."""

    def __init__(self, catalog: TableCatalog, catalog_version: int):
        self.catalog = catalog
        self.catalog_version = catalog_version
        #: the pinned {name: {root, version}} map, read ONCE
        self.entries = catalog._read(catalog_version)["tables"]

    def names(self) -> list[str]:
        return sorted(self.entries)

    def table_version(self, name: str) -> int:
        ent = self.entries.get(name)
        if ent is None:
            raise KeyError(
                f"catalog v{self.catalog_version} has no table {name!r}"
            )
        return ent["version"]

    def read(self, name: str) -> DataFrame:
        ent = self.entries.get(name)
        if ent is None:
            raise KeyError(
                f"catalog v{self.catalog_version} has no table {name!r}"
            )
        return VersionedTable(self.catalog.spark, ent["root"]).read(
            ent["version"]
        )

    # ---------------------------------------------------------- transactions
