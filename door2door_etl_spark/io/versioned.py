"""Versioned-manifest commit protocol for parquet tables (K1 atomicity).

The round-3 ``ParquetMergeSink`` committed a merge by directory swap
(``rmtree(target)`` + ``rename(tmp, target)``) — crash-safe for one writer,
but a reader listing files mid-swap could observe a missing table, and two
concurrent writers could interleave swaps and lose one batch silently.  This
module replaces the swap with the commit protocol transactional table
formats use (Delta/Iceberg metadata commits; reference analog: the Postgres
warehouse's server-side transaction, src/helper/postgres.py:157-189):

Layout (for a table rooted at ``warehouse/vehicle_location``)::

    warehouse/
      vehicle_location -> .vehicle_location__versions/data-v00000002  (symlink)
      .vehicle_location__versions/
        _current                # pointer file: "data-v00000002" (fsync'd)
        data-v00000001/         # immutable parquet snapshots
        data-v00000002/

* **Snapshots are immutable.** A committed ``data-v{N}/`` directory is never
  modified; writers only add new version directories.
* **The claim rename is the commit point.** A writer computes its merge
  against snapshot ``N`` and then claims EXACTLY ``N+1`` by renaming its
  fully-written staging dir to ``data-v{N+1}`` — on POSIX that rename
  fails if the name exists, so a successful claim proves no other commit
  intervened (the same optimistic-concurrency check Delta performs with
  its log-record create).  A loser recomputes against the winner's
  snapshot and retries; a claimed number can never skip over, and thereby
  orphan, a competitor's commit.
* **The pointer file and root symlink are publication caches.** After the
  claim, ``_current`` is fsync'd (write temp + ``os.replace`` + dir fsync)
  and the root symlink atomically repointed — FORWARD-ONLY.  A crash
  between claim and publish loses nothing: the next access rolls the
  caches forward to the highest claimed snapshot (claimed ⇒ fully
  written, because staging is only renamed after the write completes).
* **Readers resolve the pointer.** :func:`resolve_table_path` is the
  portable reader path (object stores have no symlinks; there, the
  version listing + ``_current`` are the only mechanism).  On a
  local/POSIX filesystem the root symlink additionally keeps every
  pointer-unaware reader (``spark.read.parquet(root)``) working
  unchanged; a reader that resolved the old target keeps reading the old
  snapshot, which stays on disk until
  :meth:`VersionedParquetTable.vacuum`.
* **Partition-scoped merges stop rewriting untouched data.** Only the
  partitions the batch touches are written through Spark; every untouched
  partition directory is hard-linked from the previous snapshot (a
  metadata-only operation — at 100 TB an hourly batch on an hour-partitioned
  table writes one partition and links the other ~8,700, where round 3
  rewrote the full table every merge).  On an object store the same role is
  played by a per-version file manifest; the hardlink farm is the faithful
  local-FS equivalent.

This module is the POSIX mode of the protocol (symlink keeps naive readers
working, hardlinks share partitions, rename is the claim).  The OBJECT-STORE
mode — per-version file manifests whose put-if-absent create is the claim,
file re-listing instead of hardlinks, no symlinks anywhere — lives in
:mod:`door2door_etl_spark.io.manifest` with the same merge semantics and a
pluggable :class:`~door2door_etl_spark.io.manifest.FsOps` backend (local
or S3 conditional PUT).

:func:`open_table` is the ONE place that decides which layout a root
holds; both table classes answer the same read-side calls
(``current_version``, ``first_retained_version``, ``read``,
``describe_history``, ``vacuum``), so the change feed
(:func:`table_changes`, :func:`apply_changes`, :class:`ChangeFeedCursor`)
and every downstream consumer work on either layout without probing it.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    from .manifest import FsOps, ManifestTable

_VERSION_RE = re.compile(r"^data-v(\d{8})$")


class ConcurrentWriteError(RuntimeError):
    """Raised when a writer loses the version-claim race ``max_retries``
    times in a row — the caller is contending with a faster writer and
    should back off rather than spin."""


def _versions_dir(root: str | Path) -> Path:
    p = Path(root)
    return p.parent / f".{p.name}__versions"


def _legacy_aside(root: str | Path) -> Path:
    p = Path(root)
    return p.parent / f".{p.name}__legacy"


def _version_name(n: int) -> str:
    return f"data-v{n:08d}"


def _parse_version(name: str) -> int | None:
    m = _VERSION_RE.match(name)
    return int(m.group(1)) if m else None


def _read_pointer(versions_dir: Path) -> str | None:
    try:
        name = (versions_dir / "_current").read_text().strip()
    except OSError:
        return None
    return name or None


def _write_pointer(versions_dir: Path, name: str) -> None:
    """Durably publish ``name`` as the committed snapshot: temp file +
    fsync + atomic replace + directory fsync, so the pointer survives both
    a process crash and a power cut mid-commit."""
    tmp = versions_dir / f"_current.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, versions_dir / "_current")
    dfd = os.open(str(versions_dir), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _point_root_symlink(root: Path, version_name: str) -> None:
    """Atomically repoint ``root`` at the committed snapshot.  The link
    target is RELATIVE so the whole lake directory stays relocatable."""
    target = f".{root.name}__versions/{version_name}"
    tmp = root.parent / f".{root.name}__lnk.{uuid.uuid4().hex}"
    os.symlink(target, tmp)
    os.replace(tmp, root)


def _fsync_tree(root: Path, skip_linked: bool = True) -> None:
    """fsync every file and directory under ``root`` (and ``root`` itself).

    The claim rename is only a durable commit point if the staging tree's
    bytes reached disk BEFORE the rename: otherwise a power cut can leave
    the versions dir durably recording ``data-v{N}`` (``_write_pointer``
    fsyncs it) while the snapshot's parquet files are torn or empty — and
    recovery would roll the pointer FORWARD onto the corrupt snapshot.
    ``skip_linked`` elides files with ``st_nlink > 1``: in a commit's
    staging tree those are hard links into a PRIOR snapshot whose inodes
    were fsync'd by the commit that first wrote them, and skipping them
    keeps the partition-scoped merge's fsync cost proportional to the
    touched partitions, not the table.  Legacy migration passes ``False``
    (its links point at never-fsync'd pre-protocol files).

    Cost shape: one serial open+fsync per NEW file — proportional to what
    the commit wrote, a small constant factor on the write itself.  A
    full-table rewrite pays a full-table fsync pass; the partition-scoped
    merge (the steady-state path) pays only its touched partitions.  The
    object-store mode has no such pass at all (PUT is durable by
    contract).
    """
    for dirpath, _dirnames, filenames in os.walk(root, topdown=False):
        for fn in filenames:
            p = os.path.join(dirpath, fn)
            try:
                if skip_linked and os.stat(p).st_nlink > 1:
                    continue  # hard link into a prior fsync'd snapshot
                fd = os.open(p, os.O_RDONLY)
            except OSError:
                continue
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        try:
            dfd = os.open(dirpath, os.O_RDONLY)
        except OSError:
            continue
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


def _fsync_dir(path: Path) -> None:
    try:
        dfd = os.open(str(path), os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _hardlink_tree(src: Path, dst: Path) -> None:
    """Mirror ``src`` into ``dst`` with hard links (no data copy).  Parquet
    snapshot files are immutable, so shared inodes are safe."""
    for dirpath, _dirnames, filenames in os.walk(src):
        rel = Path(dirpath).relative_to(src)
        out = dst / rel
        out.mkdir(parents=True, exist_ok=True)
        for fn in filenames:
            os.link(Path(dirpath) / fn, out / fn)


def _claimed_versions(vdir: Path) -> list[int]:
    """Every CLAIMED snapshot version on disk (unordered)."""
    if not vdir.is_dir():
        return []
    return [
        v
        for v in (_parse_version(e.name) for e in vdir.iterdir() if e.is_dir())
        if v is not None
    ]


def _max_claimed_version(vdir: Path) -> int | None:
    """Highest CLAIMED snapshot version on disk.  A claim (the atomic
    rename of a fully-written staging dir to ``data-v{N}``) IS the commit
    point — the pointer file and root symlink are publication caches that
    may lag behind after a crash and are rolled forward on next access."""
    return max(_claimed_versions(vdir), default=None)


def resolve_table_path(root: str) -> str:
    """Resolve a table root to the directory holding the committed
    snapshot's data files — THE reader-side half of the commit protocol.

    * Versioned table → the HIGHEST claimed ``data-v{N}`` (the claim rename
      is the commit point; see :meth:`VersionedParquetTable.claim`).  If
      the ``_current`` pointer or root symlink lag behind (writer crashed
      between claim and publish), they are best-effort rolled FORWARD here
      — recovery completes the crashed commit, it never discards it.
    * Plain directory (legacy / never-merged table) → the root itself.
    """
    p = Path(root)
    vdir = _versions_dir(p)
    committed = _max_claimed_version(vdir)
    pointer = _read_pointer(vdir)
    if committed is not None:
        name = _version_name(committed)
        try:
            if pointer != name:
                _write_pointer(vdir, name)  # roll the cache forward
            if not os.path.lexists(p):
                _point_root_symlink(p, name)
            elif p.is_symlink():
                if os.readlink(str(p)).rsplit("/", 1)[-1] != name:
                    _point_root_symlink(p, name)
            else:
                # Plain directory shadowing a committed snapshot: a legacy
                # migration crashed between the claim and the symlink swap.
                # Finish it — the dir's contents are already hard-linked
                # into the claimed snapshot.
                aside = _legacy_aside(p)
                if not aside.exists():
                    os.rename(p, aside)
                _point_root_symlink(p, name)
            aside = _legacy_aside(p)
            if aside.is_dir():
                # The aside copy of a completed first commit is
                # reclaimable garbage (its data lives on in the snapshot).
                shutil.rmtree(aside)
        except OSError:
            pass  # read-only caller: resolution still succeeds below
        return str(vdir / name)
    aside = _legacy_aside(p)
    if not os.path.lexists(p) and aside.is_dir():
        # Crash mid-migration before any snapshot was claimed: the original
        # directory was set aside but nothing committed — restore it
        # (best-effort: a racing reader may have restored it first, and a
        # read-only caller cannot).
        try:
            os.rename(aside, p)
        except OSError:
            pass
    return str(p)


@dataclass(frozen=True)
class VersionedParquetTable:
    """A parquet table committed through the versioned-manifest protocol.

    All mutation goes through :meth:`commit` (claim next version → fsync
    pointer → repoint symlink); :func:`merge_versioned` and
    :func:`compact_versioned` build on it.
    """

    root: str

    @property
    def versions_dir(self) -> Path:
        return _versions_dir(self.root)

    def current_version(self) -> int | None:
        """The committed version: the highest CLAIMED snapshot (falls back
        to the pointer when the claim dirs were manually removed).  A
        successful claim is the commit point even if the crash-tolerant
        pointer/symlink publication never ran — see :meth:`claim`."""
        claimed = _max_claimed_version(self.versions_dir)
        if claimed is not None:
            return claimed
        pointer = _read_pointer(self.versions_dir)
        if pointer is None:
            return None
        return _parse_version(pointer)

    def first_retained_version(self) -> int | None:
        """The oldest snapshot vacuum has left: the lowest time-travel
        target and a fresh change-feed consumer's starting point."""
        return min(_claimed_versions(self.versions_dir), default=None)

    def data_path(self) -> str:
        return resolve_table_path(self.root)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The committed snapshot, or retained ``version`` (time travel)."""
        if version is not None:
            return read_version(spark, self.root, version)
        return spark.read.parquet(self.data_path())

    def is_versioned(self) -> bool:
        return self.current_version() is not None

    def describe_history(self) -> list[dict]:
        """DESCRIBE HISTORY for the POSIX layout: one dict per retained
        snapshot dir, newest first — ``{version, committed_at, n_files,
        current}``.  The layout stores no operation record (the manifest
        mode does — its commit record is a JSON document; this one is a
        directory rename), so history here is what the filesystem attests:
        snapshot mtime and file census.  Pure metadata — no Spark session.
        """
        import time as _time

        if not self.versions_dir.is_dir():
            return []  # never committed through the protocol (or a typo)
        cur = self.current_version()
        out = []
        for name in sorted(os.listdir(self.versions_dir), reverse=True):
            m = _VERSION_RE.match(name)
            if not m:
                continue
            v = int(m.group(1))
            p = self.versions_dir / name
            n_files = sum(
                1
                for dp, _dn, fns in os.walk(p)
                for fn in fns
                if not fn.startswith(("_", "."))
            )
            out.append(
                {
                    "version": v,
                    "committed_at": _time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", _time.gmtime(p.stat().st_mtime)
                    ),
                    "n_files": n_files,
                    "current": v == cur,
                }
            )
        return out

    # -- commit protocol -----------------------------------------------------

    def _migrate_legacy(self) -> None:
        """Adopt a pre-existing plain directory as snapshot v1.

        The original files are HARD-LINKED into ``data-v00000001`` (no data
        copy), the pointer is published, and only then is the original
        directory swapped for the root symlink — so a crash at any point
        leaves either the untouched legacy table or a fully-committed v1
        (the ``.__legacy`` aside is auto-restored by
        :func:`resolve_table_path`).
        """
        root = Path(self.root)
        vdir = self.versions_dir
        vdir.mkdir(parents=True, exist_ok=True)
        v1 = vdir / _version_name(1)
        if not v1.exists():
            staging = vdir / f".staging.{uuid.uuid4().hex}"
            _hardlink_tree(root, staging)
            # The adopted files predate the protocol and were never fsync'd
            # by any commit — force them down before v1 becomes claimable.
            _fsync_tree(staging, skip_linked=False)
            try:
                os.rename(staging, v1)
            except OSError:
                # Lost the v1 race to a concurrent first writer.  Both
                # migrations hard-link the SAME source directory, so the
                # winner's v1 is identical — drop ours and adopt theirs.
                shutil.rmtree(staging, ignore_errors=True)
        _write_pointer(vdir, _version_name(1))
        if root.is_dir() and not root.is_symlink():
            aside = _legacy_aside(root)
            try:
                os.rename(root, aside)
            except OSError:
                pass  # competitor swapped the root first
        if not Path(self.root).is_symlink():
            _point_root_symlink(root, _version_name(1))
        aside = _legacy_aside(root)
        if aside.is_dir() and not aside.is_symlink():
            shutil.rmtree(aside, ignore_errors=True)

    def claim(self, staging: Path, version: int) -> bool:
        """Atomically promote ``staging`` to snapshot ``version`` — THE
        COMMIT POINT.  POSIX ``rename(2)`` onto an existing non-empty
        directory fails, so at most one writer wins each version number;
        because writers only claim ``committed+1`` computed against the
        snapshot they read (see :func:`merge_versioned`), a successful
        claim proves no other commit intervened — the optimistic-
        concurrency check Delta performs with its log-record create.
        Staging dirs are fully written AND fsync'd before the claim, so a
        claimed snapshot is always complete — on disk, not just in the page
        cache: without the pre-claim fsync a power cut could durably record
        the ``data-v{N}`` rename (the versions-dir fsync below and
        ``_write_pointer``'s both persist it) while the snapshot's parquet
        bytes were still dirty, and recovery would roll the pointer FORWARD
        onto torn files.  A crash after claim but before :meth:`publish` is
        recovered by rolling the pointer forward on the next access (the
        commit is never lost)."""
        import errno

        _fsync_tree(staging)
        try:
            os.rename(staging, self.versions_dir / _version_name(version))
            _fsync_dir(self.versions_dir)
            return True
        except OSError as exc:
            # ONLY a name collision is a lost race; anything else
            # (permissions, missing versions dir) is a real failure —
            # re-raise instead of burning max_retries full recomputes and
            # misreporting it as write contention.
            if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                return False
            raise

    def publish(self, version: int) -> None:
        """Publish snapshot ``version``: fsync the pointer, then repoint
        the root symlink (local-FS reader convenience).  FORWARD-ONLY — a
        slow writer waking up after a faster one has published a higher
        version must not drag the caches backward (its own commit is
        already visible through the higher snapshot's lineage).  The guard
        is check-then-act, so a publish racing a faster one can still
        transiently write the lower version; the post-write re-check below
        (and the roll-forward every :func:`resolve_table_path` performs)
        self-heals that window — the caches converge to the highest claim,
        and the commits themselves were never at risk."""
        current = _parse_version(_read_pointer(self.versions_dir) or "")
        if current is not None and current >= version:
            return
        name = _version_name(version)
        _write_pointer(self.versions_dir, name)
        root = Path(self.root)
        if root.is_dir() and not root.is_symlink():
            # First commit over a legacy directory root: set it aside before
            # the symlink can take its place (reclaimed by
            # resolve_table_path once the snapshot is visible).
            aside = _legacy_aside(root)
            os.rename(root, aside)
            _point_root_symlink(root, name)
            shutil.rmtree(aside)
        else:
            _point_root_symlink(root, name)
        # Self-heal the check-then-act window: if a higher claim landed
        # while we were writing, roll the caches forward to it now.
        latest = _max_claimed_version(self.versions_dir)
        if latest is not None and latest > version:
            resolve_table_path(self.root)

    def ensure_versioned(self) -> None:
        """Upgrade a plain-directory table to the versioned layout (no-op if
        already versioned or absent)."""
        root = Path(self.root)
        if self.is_versioned():
            resolve_table_path(self.root)  # repairs a lost symlink
            return
        if root.is_dir() and not root.is_symlink():
            self._migrate_legacy()
        else:
            resolve_table_path(self.root)  # repairs a crashed migration

    def _staging(self) -> Path:
        self.versions_dir.mkdir(parents=True, exist_ok=True)
        return self.versions_dir / f".staging.{uuid.uuid4().hex}"

    def vacuum(
        self,
        keep: int = 2,
        stale_staging_hours: float = 24.0,
        min_age_hours: float = 1.0,
    ) -> list[str]:
        """Drop committed snapshots older than the newest ``keep``, plus
        ``.staging.*`` directories abandoned by failed writes more than
        ``stale_staging_hours`` ago (an in-flight writer's staging is
        always younger than that).

        ``min_age_hours`` is the TIME retention floor (Delta's retention-
        duration rule): a snapshot is removed only when it is BOTH beyond
        ``keep`` versions old AND committed more than ``min_age_hours``
        ago — so a long-running reader that resolved a beyond-keep
        snapshot keeps its files until the window closes, instead of
        breaking mid-scan when a burst of commits pushes its version past
        ``keep``.  Rolls the publication caches forward first so the root
        symlink can never be left pointing at a snapshot this call
        removes.  Returns removed names."""
        import time

        cur = self.current_version()
        if cur is None:
            return []
        resolve_table_path(self.root)  # symlink/pointer → highest claim
        cutoff = time.time() - stale_staging_hours * 3600
        age_cutoff = time.time() - min_age_hours * 3600
        removed: list[str] = []
        for entry in sorted(self.versions_dir.iterdir()):
            v = _parse_version(entry.name)
            if (
                v is not None
                and v <= cur - max(1, keep)
                and entry.stat().st_mtime <= age_cutoff
            ):
                shutil.rmtree(entry)
                removed.append(entry.name)
            elif (
                entry.name.startswith(".staging.")
                and entry.is_dir()
                and entry.stat().st_mtime < cutoff
            ):
                shutil.rmtree(entry, ignore_errors=True)
                removed.append(entry.name)
        return removed


def _is_manifest_root(root: str) -> bool:
    """The layout predicate behind :func:`open_table`: object-store URIs
    and roots holding a ``_manifests/`` commit log are manifest tables."""
    from .manifest import _is_object_uri

    root = os.fspath(root)
    return _is_object_uri(root) or os.path.isdir(os.path.join(root, "_manifests"))


def open_table(
    root: str, fs: FsOps | None = None
) -> VersionedParquetTable | ManifestTable:
    """The table at ``root`` in whichever layout it is stored — the only
    code that decides the layout.  A manifest table uses ``fs`` (default:
    picked from the root's scheme); a POSIX-versioned root takes none."""
    root = os.fspath(root)
    if _is_manifest_root(root):
        from .manifest import ManifestTable

        return ManifestTable(root, fs=fs)
    return VersionedParquetTable(root)


def _check_constraints(
    source: DataFrame, constraints: list[str] | None, root: str
) -> None:
    """Delta-style CHECK constraints on the batch: every expression must
    not evaluate FALSE for any row (SQL-standard CHECK semantics — NULL /
    UNKNOWN passes, as for ``CHECK`` in the reference's DDL,
    migrations/init.sql).  Rejecting before the commit keeps bad rows out
    of every snapshot instead of laundering them through time travel."""
    from pyspark.sql import functions as F

    for expr in constraints or []:
        bad = source.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(3).collect()
        if bad:
            sample = "; ".join(str(r.asDict()) for r in bad)
            raise ValueError(
                f"merge into {root}: CHECK constraint {expr!r} violated by "
                f"{len(bad)}+ row(s), e.g. {sample}"
            )


def _snapshot_has_root_files(data_path: str) -> bool:
    """True when the snapshot stores data files at its top level (i.e. it
    was written unpartitioned) — the partition-scoped link optimization
    only applies to a partition-dir layout."""
    return any(
        e.suffix == ".parquet" for e in Path(data_path).iterdir() if e.is_file()
    )


def merge_versioned(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key: str,
    partition_col: str | None = None,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    evolve_schema: bool = False,
    constraints: list[str] | None = None,
) -> int:
    """MERGE-style upsert committed through the versioned-manifest protocol.

    Semantics are identical to the reference warehouse upsert
    (src/helper/postgres.py:167-181) and to round 3's
    ``merge_upsert_parquet``: one row per key survives within the batch,
    existing keys are UPDATEd (new row wins), new keys INSERTed, and
    replaying a batch is a no-op (idempotent).  What changed is the commit:

    * readers never observe a partial or absent table (snapshot + pointer);
    * concurrent writers serialize optimistically (version-claim rename;
      the loser recomputes against the winner's snapshot and retries, up to
      ``max_retries``, then raises :class:`ConcurrentWriteError`);
    * with ``partition_col``, ONLY the partitions present in the batch are
      written — untouched partition directories are hard-linked from the
      previous snapshot, so an hourly batch into an hour-partitioned 100 TB
      table writes one partition's worth of data instead of all of it.

    ``evolve_schema`` (Delta's mergeSchema analog): a batch may ADD columns
    (old rows read null there) or OMIT target columns (the batch's rows get
    null there — new row still wins whole).  The default rejects any column
    drift loudly (unionByName error), the right posture for a declared-
    schema warehouse.  An evolving merge with column drift always rewrites
    the full snapshot — hard-linking old partition dirs would mix files of
    different physical schemas inside one snapshot and silently drop the
    new column from plain (mergeSchema-less) reads.

    Returns the number of (deduplicated) source rows merged.
    """
    from pyspark.sql import functions as F

    source = source.dropDuplicates([key])
    # NULL merge keys would break idempotency silently: the anti-join's
    # equality never matches NULL, so every replay would re-insert the
    # null-key row.  The reference warehouse declares the key PRIMARY KEY
    # NOT NULL (migrations/init.sql:29-51) — enforce the same, loudly.
    if source.filter(source[key].isNull()).limit(1).count() > 0:
        raise ValueError(
            f"merge into {root}: batch contains NULL values in merge key "
            f"{key!r}; a NULL key cannot be matched for UPDATE and would "
            "duplicate on every replay"
        )
    _check_constraints(source, constraints, root)
    table = VersionedParquetTable(root)
    if _is_manifest_root(root):
        raise ValueError(
            f"{root} is an object-store MANIFEST table "
            "(io/manifest.py layout); merge it with merge_manifest — "
            "adopting it as a POSIX-versioned legacy directory would "
            "corrupt its manifest resolution"
        )
    # Count before any commit: a source derived from the target re-executed
    # afterwards would read the NEW snapshot through the root symlink.
    n_source = source.count()

    for _attempt in range(max_retries):
        table.ensure_versioned()
        # The optimistic-concurrency invariant: the merge is computed
        # against snapshot ``base`` and claims EXACTLY ``base + 1``.  If
        # another writer commits base+1 first, our claim fails and we
        # recompute against their snapshot — a claimed number can never
        # skip over (and thereby orphan) a competitor's commit.
        base = table.current_version() or 0
        staging = table._staging()

        try:
            if base == 0:
                writer = source.write.mode("overwrite")
                if partition_col:
                    writer = writer.partitionBy(partition_col)
                writer.parquet(str(staging))
            else:
                # Pin THIS attempt to the base snapshot's directory (not the
                # root symlink, which a concurrent commit may repoint).
                data_path = str(table.versions_dir / _version_name(base))
                target = spark.read.parquet(data_path)
                # Drift = any difference in the (name → type) mapping.  A
                # type-only change with identical names MUST count: letting it
                # into the hardlink path would mix physical schemas inside one
                # snapshot (new-type touched files next to old-type linked
                # dirs), which plain readers cannot reconcile.
                drifted = {f.name: f.dataType for f in source.schema.fields} != {
                    f.name: f.dataType for f in target.schema.fields
                }
                if drifted and not evolve_schema:
                    raise ValueError(
                        f"merge into {root}: batch schema "
                        f"{sorted((f.name, f.dataType.simpleString()) for f in source.schema.fields)} "
                        f"!= table schema "
                        f"{sorted((f.name, f.dataType.simpleString()) for f in target.schema.fields)}; "
                        "pass evolve_schema=True to evolve the table"
                    )
                union_kw = {"allowMissingColumns": True} if evolve_schema else {}
                if partition_col and not drifted and not _snapshot_has_root_files(data_path):
                    # Partition-scoped path: write ONLY touched partitions, then
                    # link every untouched partition dir from the old snapshot.
                    # Membership must be null-safe (see round-3 notes): a bare
                    # isin() is NULL for NULL partition values and would drop
                    # those target rows from both sides.
                    touched_raw = [
                        r[0] for r in source.select(partition_col).distinct().collect()
                    ]
                    touched = [v for v in touched_raw if v is not None]
                    include_null = len(touched) < len(touched_raw)

                    def touched_pred(values: list, with_null: bool):
                        pred = (
                            F.coalesce(F.col(partition_col).isin(values), F.lit(False))
                            if values
                            else F.lit(False)
                        )
                        if with_null:
                            pred = pred | F.col(partition_col).isNull()
                        return pred

                    is_touched = touched_pred(touched, include_null)
                    # A key whose partition value CHANGED has its old row in an
                    # untouched partition; hard-linking that partition verbatim
                    # would keep a stale duplicate and break the one-row-per-key
                    # contract.  Promote any such partition to touched — the
                    # probe reads only (key, partition) columns of the untouched
                    # partitions, so it is column-pruned and cheap relative to
                    # the rewrite it prevents.
                    stale_parts = [
                        r[0]
                        for r in target.filter(~is_touched)
                        .join(source.select(key), on=key, how="left_semi")
                        .select(partition_col)
                        .distinct()
                        .collect()
                    ]
                    if stale_parts:
                        touched = touched + [v for v in stale_parts if v is not None]
                        include_null = include_null or any(
                            v is None for v in stale_parts
                        )
                        is_touched = touched_pred(touched, include_null)
                    merged_touched = (
                        target.filter(is_touched)
                        .join(source.select(key), on=key, how="left_anti")
                        .unionByName(source, **union_kw)
                    )
                    # Resolve which SNAPSHOT dirs the touched rows live in via
                    # their actual file paths — never by re-encoding partition
                    # values into Hive dir names.  This also covers a partition
                    # the merge leaves EMPTY (its only key moved elsewhere):
                    # the staging write creates no dir for it, and a bare
                    # "link whatever staging lacks" rule would resurrect the
                    # stale directory.
                    from urllib.parse import unquote, urlparse

                    # Normalize BOTH sides identically with realpath before
                    # relpath: input_file_name() returns URIs with symlinks
                    # unresolved, while Path.resolve() follows them — with a
                    # symlinked ancestor in the lake path (macOS /tmp,
                    # symlinked mounts) a one-sided resolve makes every
                    # relpath wrong, and a partition emptied by the merge
                    # would be hard-linked back from the old snapshot,
                    # resurrecting stale rows.
                    abs_data = os.path.realpath(data_path)
                    touched_dirs = {
                        os.path.relpath(
                            os.path.realpath(unquote(urlparse(r[0]).path)),
                            abs_data,
                        ).split(os.sep, 1)[0]
                        for r in target.filter(is_touched)
                        .select(F.input_file_name())
                        .distinct()
                        .collect()
                    }
                    merged_touched.write.mode("overwrite").partitionBy(
                        partition_col
                    ).parquet(str(staging))
                    for entry in Path(data_path).iterdir():
                        if (
                            entry.is_dir()
                            and entry.name not in touched_dirs
                            and not (staging / entry.name).exists()
                        ):
                            _hardlink_tree(entry, staging / entry.name)
                else:
                    merged = target.join(
                        source.select(key), on=key, how="left_anti"
                    ).unionByName(source, **union_kw)
                    writer = merged.write.mode("overwrite")
                    if partition_col:
                        writer = writer.partitionBy(partition_col)
                    writer.parquet(str(staging))
        except BaseException:
            # A failed staging write (executor OOM, incompatible union,
            # kill) must not leak a snapshot-sized orphan directory.
            shutil.rmtree(staging, ignore_errors=True)
            raise

        if table.claim(staging, base + 1):
            table.publish(base + 1)
            table.vacuum(keep=vacuum_keep, min_age_hours=vacuum_min_age_hours)
            return n_source
        # Lost the claim race: drop our snapshot and recompute against the
        # winner's commit.
        shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"merge into {root} lost the version-claim race {max_retries} times"
    )


def _partition_cols_of(data_path: str) -> list[str]:
    """Partition-column chain of a snapshot, read off its ``col=value``
    directory names (depth-first along the first child)."""
    cols: list[str] = []
    p = Path(data_path)
    while True:
        subdirs = sorted(
            e for e in p.iterdir() if e.is_dir() and "=" in e.name
        )
        if not subdirs:
            return cols
        cols.append(subdirs[0].name.split("=", 1)[0])
        p = subdirs[0]


def compact_versioned(
    spark: SparkSession,
    root: str,
    target_file_mb: int = 128,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
    max_retries: int = 5,
) -> int:
    """Rewrite the current snapshot into ~``target_file_mb`` files as a NEW
    committed version; returns the new file count.

    Because compaction is just another versioned commit, the round-3 hazard
    (a crash between backup-move and rename leaving the table path absent)
    is gone by construction, and it obeys the same optimistic-concurrency
    rule as the merge: it claims exactly ``base + 1`` for the snapshot it
    read, so a merge that lands mid-compaction wins the claim and the
    compaction recomputes over the merged data instead of reverting it.
    A partitioned snapshot keeps its partition layout (one task — and so
    ~one file — per partition value; ``target_file_mb`` does not apply
    there); an unpartitioned one coalesces to the byte-derived file count.
    """
    table = VersionedParquetTable(root)
    table.ensure_versioned()
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            raise ValueError(f"{root} has no committed snapshot to compact")
        data_path = str(table.versions_dir / _version_name(base))
        pcols = _partition_cols_of(data_path)
        staging = table._staging()
        df = spark.read.parquet(data_path)
        try:
            if pcols:
                (
                    df.repartition(*pcols)
                    .write.mode("overwrite")
                    .partitionBy(*pcols)
                    .parquet(str(staging))
                )
            else:
                # Byte-derived sizing only matters (and only costs the
                # full file walk) on the unpartitioned path.
                total_bytes = sum(
                    f.stat().st_size
                    for f in Path(data_path).rglob("*.parquet")
                    if f.is_file()
                )
                n_target = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
                df.coalesce(n_target).write.mode("overwrite").parquet(str(staging))
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if table.claim(staging, base + 1):
            table.publish(base + 1)
            table.vacuum(keep=vacuum_keep, min_age_hours=vacuum_min_age_hours)
            return len(
                [
                    f
                    for f in Path(
                        str(table.versions_dir / _version_name(base + 1))
                    ).rglob("*.parquet")
                    if f.is_file()
                ]
            )
        shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"compaction of {root} lost the version-claim race {max_retries} times"
    )


def read_version(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time-travel read: the table exactly as committed at ``version``.

    Snapshots are immutable, so this is just a scan of the retained version
    directory — the same metadata-only trick Delta/Iceberg time travel
    plays.  Raises ``ValueError`` if the snapshot was vacuumed (retention is
    ``vacuum(keep=…)``'s business, exactly like Delta's retention window).
    """
    table = VersionedParquetTable(root)
    snap = table.versions_dir / _version_name(version)
    if not snap.is_dir():
        have = sorted(
            e.name for e in table.versions_dir.iterdir() if _parse_version(e.name)
        ) if table.versions_dir.is_dir() else []
        raise ValueError(
            f"version {version} of {root} is not retained (have: {have}); "
            "raise vacuum keep= to retain more history"
        )
    return spark.read.parquet(str(snap))


def table_changes(
    spark: SparkSession,
    root: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
    fs: FsOps | None = None,
) -> DataFrame:
    """Change feed between two committed versions (CDC) of a table in
    either layout (``fs`` reaches a manifest table's storage): one row per
    key whose content changed, with ``_change_type`` ∈ {insert, update,
    delete} and the NEW side's columns (null except ``key`` for deletes).

    Physical shape: both snapshots project to (key, row-hash) map-side, so
    the full-outer join shuffles two slim columns — never the payload; the
    post-image columns come back via one semi-filtered join against only
    the changed keys.  At 100 TB this is "diff two manifests", not "read
    the table twice".  (The MERGE sink never deletes, but compaction,
    schema evolution, and external writers are all diffable — a compacted
    version correctly reports zero changes.)
    """
    table = open_table(root, fs)
    old = table.read(spark, from_version)
    if to_version is None:
        to_version = table.current_version()
        if to_version is None:
            raise ValueError(f"{root} has no committed versions")
    return changes_between(old, table.read(spark, to_version), key)


def changes_between(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """The CDC diff core (see :func:`table_changes`), layout-agnostic."""
    from pyspark.sql import functions as F

    # Diff over the UNION of both schemas with a null-for-missing
    # convention: a column only one side has hashes as a typed NULL on the
    # other, so after schema evolution a row whose only change is a value
    # in the newly added column (or a value lost with a dropped column)
    # still reports as an update.  Hashing only the intersection — the old
    # behavior — silently dropped exactly those changes from the CDC feed.
    all_cols = list(new.columns) + [c for c in old.columns if c not in set(new.columns)]

    def row_hash(df: DataFrame):
        have = set(df.columns)
        parts = [
            F.col(c)
            if c in have
            else F.lit(None).cast(
                (new if c in set(new.columns) else old).schema[c].dataType
            )
            for c in all_cols
        ]
        return F.xxhash64(F.struct(*parts))

    oldh = old.select(F.col(key).alias("_k"), row_hash(old).alias("_h_old"))
    newh = new.select(F.col(key).alias("_k"), row_hash(new).alias("_h_new"))
    diff = (
        oldh.join(newh, "_k", "full_outer")
        .select(
            "_k",
            F.when(F.col("_h_old").isNull(), F.lit("insert"))
            .when(F.col("_h_new").isNull(), F.lit("delete"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("update"))
            .alias("_change_type"),
        )
        .filter(F.col("_change_type").isNotNull())
    )
    # eqNullSafe: a NULL-key row written by an external writer must not
    # silently vanish from the change feed (plain equality never matches
    # NULL; merges themselves reject NULL keys).  Deletes are excluded
    # here — they have no new-side row, and a null key present on BOTH
    # sides surfaces as delete+insert whose diff rows would otherwise
    # both null-safe-match the new row.
    non_delete = diff.filter(F.col("_change_type") != "delete")
    post = new.join(non_delete, new[key].eqNullSafe(non_delete._k), "inner").select(
        "_change_type", *new.columns
    )
    deletes = (
        diff.filter(F.col("_change_type") == "delete")
        .select(F.col("_k").alias(key), "_change_type")
    )
    if deletes.columns != post.columns:  # align: null post-image for deletes
        for c in new.columns:
            if c != key:
                deletes = deletes.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
        deletes = deletes.select("_change_type", *new.columns)
    return post.unionByName(deletes)


def delete_versioned(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key: str,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
) -> int:
    """Delete every row whose ``key`` appears in ``keys`` — the
    right-to-be-forgotten operation — committed through the versioned
    protocol at FILE granularity: only parquet files that actually contain
    a doomed key are rewritten (minus the deleted rows); every other file
    hard-links into the new snapshot unchanged.

    At 100 TB this is the difference between "a GDPR request rewrites the
    corpus" and "it rewrites the handful of files the keys live in": the
    probe is one column-pruned semi join collecting affected FILE PATHS
    via ``input_file_name`` (no partition-column bookkeeping needed — the
    same mechanism works for partitioned and flat layouts).  Returns the
    number of rows deleted; a batch matching nothing returns 0 without
    committing a new version.
    """
    from pyspark.sql import functions as F

    keys = keys.select(key).dropDuplicates([key]).filter(F.col(key).isNotNull())
    return _file_level_delete(
        spark,
        root,
        doom_of=lambda df: df.join(F.broadcast(keys), key, "left_semi"),
        keep_of=lambda df: df.join(F.broadcast(keys), key, "left_anti"),
        max_retries=max_retries,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_hours=vacuum_min_age_hours,
    )


def delete_where_versioned(
    spark: SparkSession,
    root: str,
    condition,
    max_retries: int = 5,
    vacuum_keep: int = 2,
    vacuum_min_age_hours: float = 1.0,
) -> int:
    """Predicate delete (``DELETE WHERE condition``) at file granularity —
    TTL expiry, retention sweeps, policy scrubs.  Same machinery as
    :func:`delete_versioned`: only files containing a matching row are
    rewritten, everything else hard-links into the new snapshot.

    NULL discipline: a row where ``condition`` evaluates NULL is KEPT —
    SQL's DELETE only removes rows where the predicate is true, and the
    kept-side filter uses ``NOT coalesce(cond, false)`` so three-valued
    logic cannot silently drop (or double-count) null-evaluating rows.
    """
    from pyspark.sql import functions as F

    cond = condition if not isinstance(condition, str) else F.expr(condition)
    doomed_pred = F.coalesce(cond, F.lit(False))
    return _file_level_delete(
        spark,
        root,
        doom_of=lambda df: df.filter(doomed_pred),
        keep_of=lambda df: df.filter(~doomed_pred),
        max_retries=max_retries,
        vacuum_keep=vacuum_keep,
        vacuum_min_age_hours=vacuum_min_age_hours,
    )


def _file_level_delete(
    spark: SparkSession,
    root: str,
    doom_of,
    keep_of,
    max_retries: int,
    vacuum_keep: int,
    vacuum_min_age_hours: float,
) -> int:
    """Shared core of the file-granular deletes: ``doom_of(df)`` selects
    the rows to remove, ``keep_of(df)`` their complement (split so the
    key-based path can use semi/anti joins and the predicate path
    null-safe filters)."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    table = VersionedParquetTable(root)
    table.ensure_versioned()
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            return 0
        data_path = str(table.versions_dir / _version_name(base))
        abs_data = str(Path(data_path).resolve())
        target = spark.read.parquet(data_path)
        # Bind input_file_name to the single-source target scan BEFORE the
        # join — above a multi-source plan the expression is rejected
        # (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION).
        with_file = target.withColumn("__file", F.input_file_name())
        doomed = doom_of(with_file)
        affected = {
            os.path.realpath(unquote(urlparse(r[0]).path))
            for r in doomed.select("__file").distinct().collect()
        }
        if not affected:
            return 0
        n_deleted = doomed.count()
        pcols = _partition_cols_of(data_path)
        staging = table._staging()
        try:
            # Rewrite ONLY the affected files (basePath keeps the partition
            # columns readable from the dir names), dropping doomed rows.
            # basePath must be the REALPATH'd snapshot dir: ``affected``
            # holds realpath'd file paths, and a symlinked ancestor in
            # ``data_path`` would otherwise make Spark reject them as
            # outside the base.
            kept = keep_of(
                spark.read.option("basePath", abs_data).parquet(*sorted(affected))
            )
            writer = kept.write.mode("overwrite")
            if pcols:
                writer = writer.partitionBy(*pcols)
            writer.parquet(str(staging))
            # Hard-link every UNAFFECTED data file, preserving its relative
            # path.  Spark part-file names embed a per-write UUID, so
            # collisions with the staging write are not a concern.
            for dirpath, _dirs, files in os.walk(abs_data):
                rel_dir = os.path.relpath(dirpath, abs_data)
                for fn in files:
                    src = os.path.join(dirpath, fn)
                    if fn.startswith(("_", ".")) or os.path.realpath(src) in affected:
                        continue
                    dst_dir = (
                        Path(staging) if rel_dir == "." else Path(staging) / rel_dir
                    )
                    dst_dir.mkdir(parents=True, exist_ok=True)
                    os.link(src, dst_dir / fn)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if table.claim(staging, base + 1):
            table.publish(base + 1)
            table.vacuum(keep=vacuum_keep, min_age_hours=vacuum_min_age_hours)
            return n_deleted
        shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"delete from {root} lost the version-claim race {max_retries} times"
    )


def apply_changes(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key: str,
    partition_col: str | None = None,
    fs: FsOps | None = None,
) -> dict:
    """Apply a :func:`table_changes` feed to a replica table in either
    layout (a root holding no table yet is created POSIX-versioned) — the
    CDC consumer half: deletes first (so a delete+reinsert of the same key
    in one feed nets to the reinsert), then inserts/updates as one MERGE.
    Replaying the same feed is a no-op (both halves are idempotent), so
    at-least-once delivery of change batches is safe.  Returns
    ``{"deleted": n, "upserted": n}``."""
    from pyspark.sql import functions as F

    if isinstance(open_table(root, fs), VersionedParquetTable):
        delete, merge, kw = delete_versioned, merge_versioned, {}
    else:
        from .manifest import delete_manifest, merge_manifest

        delete, merge, kw = delete_manifest, merge_manifest, {"fs": fs}
    dels = changes.filter(F.col("_change_type") == "delete").select(key)
    ups = changes.filter(F.col("_change_type") != "delete").drop("_change_type")
    n_del = delete(spark, root, dels, key, **kw) if dels.limit(1).count() else 0
    n_up = (
        merge(spark, root, ups, key, partition_col=partition_col, **kw)
        if ups.limit(1).count()
        else 0
    )
    return {"deleted": n_del, "upserted": n_up}


@dataclass(frozen=True)
class ChangeFeedCursor:
    """Durable change-feed consumer position — the subscriber half of CDC
    (Delta's ``readChangeFeed`` + checkpoint analog, reference analog: the
    warehouse watermark bookkeeping, src/helper/postgres.py:118-140).

    Protocol: ``poll()`` returns every change between the last COMMITTED
    cursor position and the table's current version; the consumer applies
    them (``apply_changes`` is idempotent), then calls
    ``commit(to_version)`` — write-temp + fsync + rename, so a crash
    between apply and commit re-delivers the same window on the next poll
    (at-least-once + idempotent apply = effectively-once).

    Works over both table layouts (POSIX-versioned and object-store
    manifest, as decided by :func:`open_table`).  Retention contract:
    the source's vacuum ``keep``/``min_age_hours`` must exceed the
    consumer's maximum lag, or ``poll`` raises the retained-versions
    error from time travel — loudly, never a silent gap.
    """

    root: str
    cursor_path: str

    def last_committed(self) -> int | None:
        try:
            return int(Path(self.cursor_path).read_text().strip())
        except (OSError, ValueError):
            return None

    def poll(self, spark: SparkSession, key: str):
        """Returns ``(changes_df, to_version)`` for the window
        (last_committed, current], or ``(None, last)`` when no new version
        has landed.  A first poll on a fresh cursor starts from the
        table's FIRST retained version (initial sync = apply the feed
        from v_first to current after seeding the replica with v_first —
        or simply full-copy and ``commit(current)``)."""
        table = open_table(self.root)
        cur = table.current_version()
        last = self.last_committed()
        if cur is None or (last is not None and cur <= last):
            return None, last
        from_v = last if last is not None else table.first_retained_version()
        if from_v is None or from_v >= cur:
            return None, last
        feed = changes_between(
            table.read(spark, from_v), table.read(spark, cur), key
        )
        return feed, cur

    def commit(self, version: int) -> None:
        """Durably advance the cursor — only after the window's changes
        are fully applied downstream."""
        p = Path(self.cursor_path)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)
        _fsync_dir(p.parent)


def clone_versioned(src_root: str, dst_root: str, version: int | None = None) -> int:
    """Zero-copy snapshot clone (Delta SHALLOW-CLONE analog, but SAFE):
    materialize ``src``'s committed snapshot (or ``version``) as a brand-new
    versioned table at ``dst_root`` via the hardlink farm — instant and
    byte-free on any POSIX filesystem, yet the clone owns its own inode
    links, so vacuuming either table can NEVER break the other (the hazard
    Delta's shallow clones document away).  The clone starts life at v1
    with independent history; typical uses are dev/test copies of a
    production table and pre-migration backups.  Returns the clone's
    version number (always 1).
    """
    src = VersionedParquetTable(src_root)
    if version is None:
        version = src.current_version()
        if version is None:
            raise ValueError(f"{src_root} has no committed snapshot to clone")
    snap = src.versions_dir / _version_name(version)
    if not snap.is_dir():
        raise ValueError(
            f"version {version} of {src_root} is not retained"
        )
    dst = VersionedParquetTable(dst_root)
    if dst.current_version() is not None or Path(dst_root).exists():
        raise ValueError(f"clone target {dst_root} already exists")
    staging = dst._staging()
    _hardlink_tree(snap, staging)
    # Snapshot files were fsync'd by the commit that wrote them; the claim
    # fsyncs only the new directory entries (hardlinks skipped).
    if not dst.claim(staging, 1):
        shutil.rmtree(staging, ignore_errors=True)
        raise ConcurrentWriteError(f"clone target {dst_root} was created concurrently")
    dst.publish(1)
    return 1


def restore_versioned(root: str, version: int, max_retries: int = 5) -> int:
    """Rollback (Delta RESTORE analog): commit retained snapshot
    ``version`` as the NEW current version — the bad-batch recovery op.
    History is never rewritten: the restore is just another commit (a
    hardlink farm of the old snapshot claims base+1), so readers keep
    their isolation guarantees, the version chain stays contiguous, and
    the bad versions remain inspectable until vacuum.  Returns the new
    version number."""
    table = VersionedParquetTable(root)
    for _attempt in range(max_retries):
        base = table.current_version()
        if base is None:
            raise ValueError(f"{root} has no committed snapshots")
        snap = table.versions_dir / _version_name(version)
        if not snap.is_dir():
            raise ValueError(f"version {version} of {root} is not retained")
        if version == base:
            return base  # already current: restoring is a no-op
        staging = table._staging()
        _hardlink_tree(snap, staging)
        if table.claim(staging, base + 1):
            table.publish(base + 1)
            return base + 1
        shutil.rmtree(staging, ignore_errors=True)
    raise ConcurrentWriteError(
        f"restore of {root} lost the version-claim race {max_retries} times"
    )
