"""Versioned-manifest commit protocol (io/versioned.py): snapshot isolation
for readers, crash recovery at every step, optimistic concurrent writers,
and the partition-scoped hardlink merge.

Reference analog: the Postgres warehouse upsert is one server-side
transaction (reference src/helper/postgres.py:157-189); these tests pin the
equivalent guarantees for the filesystem lake sink.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from door2door_etl_spark.io.versioned import (
    ConcurrentWriteError,
    VersionedParquetTable,
    merge_versioned,
    resolve_table_path,
)


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def _mk(spark, rows, schema="k int, v string, part string"):
    return spark.createDataFrame(rows, schema)


def _as_dict(spark, path):
    return {r["k"]: (r["v"], r["part"]) for r in spark.read.parquet(path).collect()}


def test_merge_creates_versioned_layout_and_plain_reads_resolve(spark, tmp_path):
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")
    # Root is a symlink; the pointer file is the authoritative manifest.
    assert Path(root).is_symlink()
    table = VersionedParquetTable(root)
    assert table.current_version() == 1
    assert resolve_table_path(root).endswith("data-v00000001")
    # Pointer-unaware readers (spark.read.parquet on the root) keep working.
    assert _as_dict(spark, root) == {1: ("a", "p1")}


def test_merge_upsert_semantics_and_idempotent_replay(spark, tmp_path):
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1"), (2, "b", "p1")]), key="k")
    batch = _mk(spark, [(2, "B", "p1"), (3, "c", "p2")])
    assert merge_versioned(spark, root, batch, key="k") == 2
    want = {1: ("a", "p1"), 2: ("B", "p1"), 3: ("c", "p2")}
    assert _as_dict(spark, root) == want
    # Replaying the identical batch changes nothing but the version number.
    merge_versioned(spark, root, batch, key="k")
    assert _as_dict(spark, root) == want
    assert VersionedParquetTable(root).current_version() == 3


def test_concurrent_reader_keeps_consistent_snapshot_during_merge(spark, tmp_path):
    """A reader that resolved the pointer BEFORE a merge reads the old
    snapshot, complete and unchanged, while and after the merge commits."""
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1"), (2, "b", "p2")]), key="k")
    reader_path = resolve_table_path(root)  # the in-flight reader's view
    merge_versioned(spark, root, _mk(spark, [(2, "B", "p2")]), key="k")
    # Old snapshot: still on disk (vacuum keeps current + previous), still
    # the pre-merge content.
    assert _as_dict(spark, reader_path) == {1: ("a", "p1"), 2: ("b", "p2")}
    # New resolution sees the merged table.
    assert _as_dict(spark, root)[2] == ("B", "p2")


def test_crash_between_claim_and_publish_rolls_forward(spark, tmp_path, monkeypatch):
    """The claim rename is the commit point: a writer dying after the claim
    but before the pointer/symlink publication has COMMITTED — the next
    access rolls the caches forward to the claimed snapshot, and nothing
    is lost or reverted."""
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")

    def boom(self, version):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(VersionedParquetTable, "publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_versioned(spark, root, _mk(spark, [(2, "b", "p1")]), key="k")
    monkeypatch.undo()

    # Claimed v2 IS the committed state; resolution rolls forward and the
    # stale symlink/pointer are repaired on access.
    table = VersionedParquetTable(root)
    assert table.current_version() == 2
    assert resolve_table_path(root).endswith("data-v00000002")
    assert _as_dict(spark, root) == {1: ("a", "p1"), 2: ("b", "p1")}
    # The next merge builds on v2 — version numbers stay contiguous.
    merge_versioned(spark, root, _mk(spark, [(3, "c", "p1")]), key="k")
    assert table.current_version() == 3
    assert _as_dict(spark, root) == {1: ("a", "p1"), 2: ("b", "p1"), 3: ("c", "p1")}


def test_concurrent_commits_never_skipped_or_reverted(spark, tmp_path, monkeypatch):
    """The reported round-4 hazard: a slow writer whose competitor commits
    FIRST must not claim a higher free number and orphan the competitor's
    batch.  The slow writer's claim of base+1 fails, it recomputes against
    the competitor's snapshot, and the final table holds BOTH batches with
    contiguous version numbers."""
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")

    original_claim = VersionedParquetTable.claim
    state = {"injected": False}

    def delayed_claim(self, staging, version):
        if not state["injected"]:
            state["injected"] = True
            # Competitor lands a full commit AFTER we computed our merge
            # (against v1) but BEFORE our claim.
            competitor = self._staging()
            _mk(spark, [(1, "a", "p1"), (7, "competitor", "p1")]).write.mode(
                "overwrite"
            ).parquet(str(competitor))
            assert original_claim(self, competitor, version)
            self.publish(version)
        return original_claim(self, staging, version)

    monkeypatch.setattr(VersionedParquetTable, "claim", delayed_claim)
    merge_versioned(
        spark, root, _mk(spark, [(2, "b", "p1")]), key="k",
        vacuum_min_age_hours=0.0,  # assert immediate trim below
    )
    monkeypatch.undo()

    table = VersionedParquetTable(root)
    assert _as_dict(spark, root) == {
        1: ("a", "p1"),
        2: ("b", "p1"),
        7: ("competitor", "p1"),
    }
    names = sorted(
        e.name for e in table.versions_dir.iterdir() if e.name.startswith("data-v")
    )
    assert names == ["data-v00000002", "data-v00000003"]  # v1 vacuumed; no gaps


def test_crash_after_pointer_before_symlink_self_heals(spark, tmp_path):
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")
    os.unlink(root)  # simulate: pointer published, symlink swap never ran
    assert resolve_table_path(root).endswith("data-v00000001")
    assert Path(root).is_symlink()  # repaired
    assert _as_dict(spark, root) == {1: ("a", "p1")}


def test_legacy_plain_table_migrates_and_crash_mid_migration_restores(spark, tmp_path):
    # A pre-protocol plain parquet directory is adopted as snapshot v1.
    root = str(tmp_path / "tbl")
    _mk(spark, [(1, "a", "p1")]).write.parquet(root)
    assert not Path(root).is_symlink()
    merge_versioned(spark, root, _mk(spark, [(2, "b", "p1")]), key="k")
    assert Path(root).is_symlink()
    assert _as_dict(spark, root) == {1: ("a", "p1"), 2: ("b", "p1")}

    # Crash window inside migration: root moved aside, pointer never
    # published.  resolve_table_path restores the original directory.
    root2 = str(tmp_path / "tbl2")
    _mk(spark, [(9, "z", "p1")]).write.parquet(root2)
    os.rename(root2, str(tmp_path / ".tbl2__legacy"))
    assert resolve_table_path(root2) == root2
    assert _as_dict(spark, root2) == {9: ("z", "p1")}


def test_losing_the_version_claim_recomputes_against_winner(spark, tmp_path, monkeypatch):
    """Interleave a competing writer between our snapshot write and claim:
    our writer must lose the claim, recompute against the competitor's
    commit, and produce the union of both batches."""
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")

    original_claim = VersionedParquetTable.claim
    state = {"raced": False}

    def racing_claim(self, staging, version):
        if not state["raced"]:
            state["raced"] = True
            # Competitor commits first (bypassing our patched claim).
            competitor = self._staging()
            _mk(spark, [(1, "a", "p1"), (5, "competitor", "p2")]).write.mode(
                "overwrite"
            ).parquet(str(competitor))
            assert original_claim(self, competitor, version)
            self.publish(version)
            # Now our own claim of the same version must fail.
            assert not original_claim(self, staging, version)
            return False
        return original_claim(self, staging, version)

    monkeypatch.setattr(VersionedParquetTable, "claim", racing_claim)
    merge_versioned(spark, root, _mk(spark, [(2, "b", "p1")]), key="k")
    assert _as_dict(spark, root) == {
        1: ("a", "p1"),
        2: ("b", "p1"),
        5: ("competitor", "p2"),
    }


def test_claim_exhaustion_raises_concurrent_write_error(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")
    monkeypatch.setattr(VersionedParquetTable, "claim", lambda self, s, v: False)
    with pytest.raises(ConcurrentWriteError):
        merge_versioned(
            spark, root, _mk(spark, [(2, "b", "p1")]), key="k", max_retries=2
        )


def test_partition_scoped_merge_hardlinks_untouched_partitions(spark, tmp_path):
    """A batch touching one partition must not rewrite the others: the
    untouched partition's data files in the new snapshot share inodes with
    the previous snapshot (metadata-only carry-forward)."""
    root = str(tmp_path / "tbl")
    base = _mk(spark, [(1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")])
    merge_versioned(spark, root, base, key="k", partition_col="part")
    table = VersionedParquetTable(root)
    v1 = table.versions_dir / "data-v00000001"

    merge_versioned(
        spark, root, _mk(spark, [(2, "B", "p2")]), key="k", partition_col="part"
    )
    v2 = table.versions_dir / "data-v00000002"

    def inodes(version_dir, part):
        return sorted(
            f.stat().st_ino
            for f in (version_dir / f"part={part}").glob("*.parquet")
        )

    # Untouched partitions: same inodes (hardlinked, zero data written).
    assert inodes(v2, "p1") == inodes(v1, "p1")
    assert inodes(v2, "p3") == inodes(v1, "p3")
    # Touched partition: freshly written files.
    assert not set(inodes(v2, "p2")) & set(inodes(v1, "p2"))
    assert _as_dict(spark, root) == {
        1: ("a", "p1"),
        2: ("B", "p2"),
        3: ("c", "p3"),
    }


def test_partitioned_merge_with_null_partition_values(spark, tmp_path):
    root = str(tmp_path / "tbl")
    merge_versioned(
        spark,
        root,
        _mk(spark, [(1, "a", "p1"), (2, "b", None)]),
        key="k",
        partition_col="part",
    )
    merge_versioned(
        spark,
        root,
        _mk(spark, [(2, "B", None), (3, "c", None)]),
        key="k",
        partition_col="part",
    )
    assert _as_dict(spark, root) == {1: ("a", "p1"), 2: ("B", None), 3: ("c", None)}


def test_vacuum_drops_old_snapshots_keeps_current_and_previous(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for i in range(4):
        merge_versioned(
            spark, root, _mk(spark, [(i, f"v{i}", "p1")]), key="k",
            vacuum_min_age_hours=0.0,
        )
    table = VersionedParquetTable(root)
    names = sorted(
        e.name for e in table.versions_dir.iterdir() if e.name.startswith("data-v")
    )
    # vacuum(keep=2, no age floor) ran inside each merge: v3 + v4 survive.
    assert names == ["data-v00000003", "data-v00000004"]
    assert table.current_version() == 4


def test_vacuum_time_retention_floor(spark, tmp_path):
    """VERDICT r4 ask #4: a beyond-keep snapshot YOUNGER than the floor
    survives vacuum (a long-running reader may still be scanning it); an
    old one is removed."""
    root = str(tmp_path / "tbl")
    for i in range(4):
        merge_versioned(
            spark, root, _mk(spark, [(i, f"v{i}", "p1")]), key="k",
            vacuum_keep=99,
        )
    table = VersionedParquetTable(root)
    # All four snapshots are seconds old: the default 1 h floor keeps them.
    assert table.vacuum(keep=2) == []
    # Backdate v1 beyond the floor: now it (and only it) is removable.
    v1 = table.versions_dir / "data-v00000001"
    old = 3 * 3600
    import time as _t
    os.utime(v1, (_t.time() - old, _t.time() - old))
    removed = table.vacuum(keep=2, min_age_hours=1.0)
    assert removed == ["data-v00000001"]
    names = sorted(
        e.name for e in table.versions_dir.iterdir() if e.name.startswith("data-v")
    )
    assert names == ["data-v00000002", "data-v00000003", "data-v00000004"]


def test_compact_parquet_table_versioned_commit_and_backup_recovery(spark, tmp_path):
    from door2door_etl_spark.io.writers import compact_parquet_table

    # Simulate the ROUND-3 crash state: table path absent, data sitting in
    # the .__precompact backup.  compact must restore, then compact via a
    # versioned commit (table never absent mid-compaction afterwards).
    root = tmp_path / "tbl"
    _mk(spark, [(i, f"v{i}", "p1") for i in range(10)]).repartition(8).write.parquet(
        str(root)
    )
    os.rename(root, tmp_path / ".tbl__precompact")
    assert not root.exists()

    n_files = compact_parquet_table(spark, str(root), target_file_mb=128)
    assert n_files == 1
    assert Path(root).is_symlink()  # committed through the protocol
    assert {r["k"] for r in spark.read.parquet(str(root)).collect()} == set(range(10))


def test_merge_schema_drift_rejected_by_default(spark, tmp_path):
    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")
    wider = spark.createDataFrame(
        [(2, "b", "p1", "extra")], "k int, v string, part string, note string"
    )
    with pytest.raises(ValueError, match="evolve_schema=True"):
        merge_versioned(spark, root, wider, key="k")


def test_merge_schema_evolution_add_and_omit_columns(spark, tmp_path):
    root = str(tmp_path / "tbl")
    merge_versioned(
        spark, root, _mk(spark, [(1, "a", "p1")]), key="k", partition_col="part"
    )
    # Batch ADDS a column: old rows read null there; the evolving merge
    # must rewrite the full snapshot (no mixed-schema hardlink carry-over),
    # so a plain pointer read — no mergeSchema option — sees the column.
    wider = spark.createDataFrame(
        [(2, "b", "p2", "note-2")], "k int, v string, part string, note string"
    )
    merge_versioned(
        spark, root, wider, key="k", partition_col="part", evolve_schema=True
    )
    got = {r["k"]: (r["v"], r["note"]) for r in spark.read.parquet(root).collect()}
    assert got == {1: ("a", None), 2: ("b", "note-2")}

    # Batch OMITS a column: its rows get null there, new row still wins.
    narrower = spark.createDataFrame([(1, "A", "p1")], "k int, v string, part string")
    merge_versioned(
        spark, root, narrower, key="k", partition_col="part", evolve_schema=True
    )
    got = {r["k"]: (r["v"], r["note"]) for r in spark.read.parquet(root).collect()}
    assert got == {1: ("A", None), 2: ("b", "note-2")}

    # Once schemas agree again, the partition-scoped hardlink path resumes.
    table = VersionedParquetTable(root)
    v_before = table.current_version()
    same_shape = spark.createDataFrame(
        [(3, "c", "p3", None)], "k int, v string, part string, note string"
    )
    merge_versioned(
        spark, root, same_shape, key="k", partition_col="part", evolve_schema=True
    )
    v1 = table.versions_dir / f"data-v{v_before:08d}"
    v2 = table.versions_dir / f"data-v{v_before + 1:08d}"
    ino = lambda d, p: sorted(
        f.stat().st_ino for f in (d / f"part={p}").glob("*.parquet")
    )
    assert ino(v2, "p1") == ino(v1, "p1")  # untouched partition hardlinked


def test_cli_compact_and_vacuum_maintenance(spark, tmp_path, capsys):
    """`-s compact` rewrites each warehouse table's small files as one new
    committed snapshot; `-s vacuum` drops old snapshots.  Both report one
    JSON summary line per invocation."""
    import json as _json

    from door2door_etl_spark.__main__ import main

    lake = tmp_path / "lake"
    root = str(lake / "warehouse" / "tbl")
    for i in range(3):  # 3 merges -> multiple small files + versions
        merge_versioned(
            spark, root, _mk(spark, [(i, f"v{i}", "p1")]), key="k", vacuum_keep=99
        )
    table = VersionedParquetTable(root)
    assert table.current_version() == 3

    assert main([
        "-s", "vacuum", "--lake-root", str(lake), "--keep-versions", "1",
        "--min-age-hours", "0",
    ]) == 0
    vac = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["tables"]["tbl"]["removed_snapshots"] == [
        "data-v00000001", "data-v00000002"
    ]

    assert main(["-s", "compact", "--lake-root", str(lake)]) == 0
    comp = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert comp["tables"]["tbl"]["files_after"] == 1
    assert {r["k"] for r in spark.read.parquet(root).collect()} == {0, 1, 2}
    # The shared test session must survive the embedded compact run.
    assert spark.range(1).count() == 1


def test_time_travel_read_version(spark, tmp_path):
    from door2door_etl_spark.io.versioned import read_version

    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k", vacuum_keep=99)
    merge_versioned(spark, root, _mk(spark, [(1, "A", "p1")]), key="k", vacuum_keep=99)
    assert {r["v"] for r in read_version(spark, root, 1).collect()} == {"a"}
    assert {r["v"] for r in read_version(spark, root, 2).collect()} == {"A"}
    with pytest.raises(ValueError, match="not retained"):
        read_version(spark, root, 9)


def test_table_changes_cdc_between_versions(spark, tmp_path):
    """Change feed: v1->v2 reports the update and the insert with new-side
    post-images; a compaction-only version reports zero changes; a delete
    (simulated via an external overwrite commit) reports the key."""
    from door2door_etl_spark.io.versioned import compact_versioned, table_changes

    root = str(tmp_path / "tbl")
    base = _mk(spark, [(1, "a", "p1"), (2, "b", "p1")])
    merge_versioned(spark, root, base, key="k", vacuum_keep=99)
    merge_versioned(
        spark, root, _mk(spark, [(2, "B", "p1"), (3, "c", "p2")]), key="k",
        vacuum_keep=99,
    )
    changes = {
        r["k"]: (r["_change_type"], r["v"])
        for r in table_changes(spark, root, key="k", from_version=1).collect()
    }
    assert changes == {2: ("update", "B"), 3: ("insert", "c")}

    compact_versioned(spark, root, vacuum_keep=99)
    assert table_changes(spark, root, "k", from_version=2, to_version=3).count() == 0

    # Simulate a delete via an external rewrite committed as v4.
    table = VersionedParquetTable(root)
    staging = table._staging()
    _mk(spark, [(1, "a", "p1"), (3, "c", "p2")]).write.mode("overwrite").parquet(
        str(staging)
    )
    assert table.claim(staging, 4)
    table.publish(4)
    dels = table_changes(spark, root, "k", from_version=3, to_version=4).collect()
    assert {(r["k"], r["_change_type"], r["v"]) for r in dels} == {(2, "delete", None)}


def test_partition_value_change_removes_stale_row(spark, tmp_path):
    """A key whose partition value changes must not leave its old row
    behind in a hard-linked untouched partition (one-row-per-key
    contract), and replaying the move stays idempotent."""
    root = str(tmp_path / "tbl")
    merge_versioned(
        spark,
        root,
        _mk(spark, [(1, "a", "p1"), (2, "b", "p2")]),
        key="k",
        partition_col="part",
    )
    move = _mk(spark, [(1, "A", "p2")])  # k=1 moves p1 -> p2
    merge_versioned(spark, root, move, key="k", partition_col="part")
    # Row count first: a stale duplicate would be masked in the dict view
    # by collect-order luck.
    assert spark.read.parquet(root).count() == 2
    assert _as_dict(spark, root) == {1: ("A", "p2"), 2: ("b", "p2")}
    merge_versioned(spark, root, move, key="k", partition_col="part")  # replay
    assert spark.read.parquet(root).count() == 2
    assert _as_dict(spark, root) == {1: ("A", "p2"), 2: ("b", "p2")}


def test_compact_preserves_partition_layout(spark, tmp_path):
    """Compaction must keep the partition-dir layout (and therefore
    file-level pruning and the partition-scoped merge path) — not flatten
    the table into root-level files."""
    from door2door_etl_spark.io.versioned import compact_versioned

    root = str(tmp_path / "tbl")
    base = _mk(spark, [(i, f"v{i}", f"p{i % 3}") for i in range(30)])
    merge_versioned(spark, root, base, key="k", partition_col="part")
    compact_versioned(spark, root)
    snap = Path(resolve_table_path(root))
    part_dirs = sorted(e.name for e in snap.iterdir() if e.is_dir())
    assert part_dirs == ["part=p0", "part=p1", "part=p2"]
    # The partition-scoped hardlink path still applies after compaction.
    table = VersionedParquetTable(root)
    v_before = table.current_version()
    merge_versioned(
        spark, root, _mk(spark, [(0, "V0", "p0")]), key="k", partition_col="part"
    )
    v_after = table.versions_dir / f"data-v{v_before + 1:08d}"
    v_prev = table.versions_dir / f"data-v{v_before:08d}"
    ino = lambda d, p: sorted(
        f.stat().st_ino for f in (d / f"part={p}").glob("*.parquet")
    )
    assert ino(v_after, "p1") == ino(v_prev, "p1")  # untouched: hardlinked
    assert _as_dict(spark, root)[0] == ("V0", "p0")


def test_zorder_rejects_sign_bit_overflow(spark, sf001):
    from door2door_etl_spark.io.writers import write_zorder_parquet

    li = spark.read.parquet(f"{sf001}/lineitem.parquet").limit(10)
    with pytest.raises(ValueError, match="exceeds 63"):
        write_zorder_parquet(
            li, "/tmp/unused", ["l_orderkey", "l_partkey"], bits=32
        )


def test_null_merge_key_rejected(spark, tmp_path):
    root = str(tmp_path / "tbl")
    bad = spark.createDataFrame([(None, "a", "p1")], "k int, v string, part string")
    with pytest.raises(ValueError, match="NULL values in merge key"):
        merge_versioned(spark, root, bad, key="k")


def test_type_only_schema_drift_detected(spark, tmp_path):
    """Same column NAMES with a changed type must count as drift — letting
    it into the hardlink path would mix physical schemas in one
    snapshot."""
    root = str(tmp_path / "tbl")
    merge_versioned(
        spark, root, _mk(spark, [(1, "a", "p1")]), key="k", partition_col="part"
    )
    retyped = spark.createDataFrame(
        [(2, 9.5, "p2")], "k int, v double, part string"
    )
    with pytest.raises(ValueError, match="evolve_schema=True"):
        merge_versioned(spark, root, retyped, key="k", partition_col="part")


def test_partition_move_with_relative_root(spark, tmp_path):
    """The touched-dir resolution must survive a RELATIVE table root:
    input_file_name returns absolute URIs, so prefix math against the
    relative path would mis-split dir names and resurrect an emptied
    partition.  (The relative path is taken from the REAL cwd — Spark
    resolves relative paths against its launch cwd, so a chdir'd test
    would desynchronize the Python and JVM sides.)"""
    root = os.path.join(os.path.relpath(str(tmp_path), os.getcwd()), "tbl")
    assert not os.path.isabs(root)
    merge_versioned(
        spark,
        root,
        _mk(spark, [(1, "a", "p1"), (2, "b", "p2")]),
        key="k",
        partition_col="part",
    )
    merge_versioned(
        spark, root, _mk(spark, [(1, "A", "p2")]), key="k", partition_col="part"
    )
    assert spark.read.parquet(str(tmp_path / "tbl")).count() == 2
    got = {r["k"]: (r["v"], r["part"])
           for r in spark.read.parquet(str(tmp_path / "tbl")).collect()}
    assert got == {1: ("A", "p2"), 2: ("b", "p2")}


def test_vacuum_sweeps_stale_staging_dirs(spark, tmp_path):
    import os as _os
    import time as _time

    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "a", "p1")]), key="k")
    table = VersionedParquetTable(root)
    stale = table.versions_dir / ".staging.deadbeef"
    stale.mkdir()
    old = _time.time() - 48 * 3600
    _os.utime(stale, (old, old))
    fresh = table.versions_dir / ".staging.cafebabe"
    fresh.mkdir()  # an in-flight writer's staging: must survive
    removed = table.vacuum(keep=2)
    assert ".staging.deadbeef" in removed
    assert fresh.exists()


def test_delete_versioned_file_level_rewrite(spark, tmp_path):
    """Deletion rewrites ONLY the files containing doomed keys; every
    other file hard-links into the new snapshot (same inode)."""
    from door2door_etl_spark.io.versioned import delete_versioned

    root = str(tmp_path / "tbl")
    base = _mk(spark, [(i, f"v{i}", f"p{i % 3}") for i in range(30)])
    merge_versioned(spark, root, base, key="k", partition_col="part", vacuum_keep=99)
    table = VersionedParquetTable(root)
    v1 = table.versions_dir / "data-v00000001"

    dooms = spark.createDataFrame([(0,), (3,)], "k int")  # both in part=p0
    n = delete_versioned(spark, root, dooms, key="k")
    assert n == 2
    v2 = table.versions_dir / "data-v00000002"
    left = {r["k"] for r in spark.read.parquet(root).collect()}
    assert left == set(range(30)) - {0, 3}

    ino = lambda d, p: sorted(
        f.stat().st_ino for f in (d / f"part={p}").glob("*.parquet")
    )
    # Partitions without doomed keys: files carried forward by hardlink.
    assert ino(v2, "p1") == ino(v1, "p1")
    assert ino(v2, "p2") == ino(v1, "p2")

    # A no-match delete commits nothing.
    v_before = table.current_version()
    assert delete_versioned(spark, root, spark.createDataFrame([(999,)], "k int"), key="k") == 0
    assert table.current_version() == v_before


def test_apply_changes_syncs_replica(spark, tmp_path):
    """CDC round-trip: diff source v_from -> v_to, apply to a replica of
    v_from, and the replica matches v_to exactly — including a delete.
    Replaying the same feed is a no-op."""
    from door2door_etl_spark.io.versioned import (
        apply_changes,
        read_version,
        table_changes,
    )

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    v1_data = _mk(spark, [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")])
    merge_versioned(spark, src, v1_data, key="k", vacuum_keep=99)
    merge_versioned(spark, rep, v1_data, key="k", vacuum_keep=99)  # replica @ v1

    # Source evolves: update k=2, insert k=4, delete k=3 (external rewrite).
    table = VersionedParquetTable(src)
    staging = table._staging()
    _mk(spark, [(1, "a", "p1"), (2, "B", "p1"), (4, "d", "p2")]).write.mode(
        "overwrite"
    ).parquet(str(staging))
    assert table.claim(staging, 2)
    table.publish(2)

    feed = table_changes(spark, src, key="k", from_version=1, to_version=2)
    stats = apply_changes(spark, rep, feed, key="k")
    assert stats == {"deleted": 1, "upserted": 2}

    want = {r["k"]: (r["v"], r["part"])
            for r in read_version(spark, src, 2).collect()}
    assert _as_dict(spark, rep) == want
    # Idempotent replay.
    apply_changes(spark, rep, feed, key="k")
    assert _as_dict(spark, rep) == want


def test_table_changes_sees_new_column_only_updates(spark, tmp_path):
    """ADVICE r4: after schema evolution, a row whose ONLY change is a value
    in the newly added column must still appear in the CDC feed (the old
    intersection-hash silently dropped exactly those updates)."""
    from door2door_etl_spark.io.versioned import table_changes

    root = str(tmp_path / "tbl")
    merge_versioned(
        spark, root, _mk(spark, [(1, "a", "p1"), (2, "b", "p1")]), key="k",
        vacuum_keep=99,
    )
    wider = spark.createDataFrame(
        # k=1: every pre-existing column identical; only the new column
        # carries information.  k=2 untouched.
        [(1, "a", "p1", "extra")], "k int, v string, part string, note string"
    )
    merge_versioned(spark, root, wider, key="k", evolve_schema=True, vacuum_keep=99)
    feed = table_changes(spark, root, key="k", from_version=1, to_version=2)
    rows = {r["k"]: r["_change_type"] for r in feed.collect()}
    assert rows == {1: "update"}


def test_partition_scoped_merge_under_symlinked_lake_path(spark, tmp_path):
    """ADVICE r4: with a symlinked ancestor in the lake path the touched-dir
    bookkeeping must still be right — a partition emptied by the merge must
    NOT be hard-linked back from the old snapshot (stale-row resurrection)."""
    real = tmp_path / "real_lake"
    real.mkdir()
    link = tmp_path / "lake_link"
    os.symlink(real, link)
    root = str(link / "tbl")

    merge_versioned(
        spark, root,
        _mk(spark, [(1, "a", "p1"), (2, "b", "p2")]),
        key="k", partition_col="part", vacuum_keep=99,
    )
    # Move k=2 from p2 to p1: p2 becomes EMPTY; a mis-normalized relpath
    # would treat p2 as untouched and resurrect the old (2, "b", "p2") row.
    merge_versioned(
        spark, root,
        _mk(spark, [(2, "b2", "p1")]),
        key="k", partition_col="part", vacuum_keep=99,
    )
    assert _as_dict(spark, root) == {1: ("a", "p1"), 2: ("b2", "p1")}


def test_delete_versioned_under_symlinked_lake_path(spark, tmp_path):
    """The file-level delete's basePath/affected-file bookkeeping under a
    symlinked ancestor (the inverse normalization mix failed loudly)."""
    from door2door_etl_spark.io.versioned import delete_versioned

    real = tmp_path / "real_lake2"
    real.mkdir()
    link = tmp_path / "lake_link2"
    os.symlink(real, link)
    root = str(link / "tbl")
    merge_versioned(
        spark, root,
        _mk(spark, [(1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")]),
        key="k", partition_col="part", vacuum_keep=99,
    )
    n = delete_versioned(spark, root, spark.createDataFrame([(2,)], "k int"), key="k")
    assert n == 1
    assert _as_dict(spark, root) == {1: ("a", "p1"), 3: ("c", "p2")}


def test_delete_where_predicate_file_level(spark, tmp_path):
    """DELETE WHERE at file granularity: matching rows go, unaffected
    files hard-link forward, and NULL-evaluating rows are KEPT (SQL
    three-valued logic — the classic silent-drop bug)."""
    from door2door_etl_spark.io.versioned import delete_where_versioned

    root = str(tmp_path / "tbl")
    rows = [(1, "keep", "p1"), (2, "expired", "p1"), (3, None, "p2"),
            (4, "expired", "p2"), (5, "keep", "p3")]
    merge_versioned(spark, root, _mk(spark, rows), key="k",
                    partition_col="part", vacuum_keep=99)
    table = VersionedParquetTable(root)
    v1 = table.versions_dir / "data-v00000001"

    n = delete_where_versioned(spark, root, "v = 'expired'")
    assert n == 2
    got = _as_dict(spark, root)
    # k=3 (v NULL -> predicate NULL) survives; only true matches deleted.
    assert got == {1: ("keep", "p1"), 3: (None, "p2"), 5: ("keep", "p3")}
    # p3 had no match: its file carries forward by hardlink (same inode).
    v2 = table.versions_dir / "data-v00000002"
    ino = lambda d: sorted(
        f.stat().st_ino for f in (d / "part=p3").glob("*.parquet")
    )
    assert ino(v2) == ino(v1)
    # No-match predicate commits nothing.
    v_before = table.current_version()
    assert delete_where_versioned(spark, root, "v = 'nothing-has-this'") == 0
    assert table.current_version() == v_before


def test_change_feed_cursor_effectively_once_replication(spark, tmp_path):
    """CDC subscriber loop: poll -> apply -> commit.  A crash between
    apply and commit re-delivers the window (at-least-once), and the
    idempotent apply makes replication effectively-once.  Works over both
    table layouts."""
    from door2door_etl_spark.io.versioned import (
        ChangeFeedCursor,
        apply_changes,
        merge_versioned,
    )

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    cursor = ChangeFeedCursor(src, str(tmp_path / "cursors" / "rep.v"))

    v1 = _mk(spark, [(1, "a", "p1"), (2, "b", "p1")])
    merge_versioned(spark, src, v1, key="k", vacuum_keep=99)
    merge_versioned(spark, rep, v1, key="k", vacuum_keep=99)  # initial sync
    cursor.commit(1)

    # No new version -> nothing to do.
    feed, to_v = cursor.poll(spark, key="k")
    assert feed is None and to_v == 1

    merge_versioned(spark, src, _mk(spark, [(2, "B", "p1"), (3, "c", "p2")]),
                    key="k", vacuum_keep=99)
    merge_versioned(spark, src, _mk(spark, [(4, "d", "p2")]), key="k",
                    vacuum_keep=99)

    feed, to_v = cursor.poll(spark, key="k")
    assert to_v == 3
    apply_changes(spark, rep, feed, key="k")
    # CRASH before commit: the next poll re-delivers the same window...
    feed2, to_v2 = cursor.poll(spark, key="k")
    assert to_v2 == 3
    apply_changes(spark, rep, feed2, key="k")  # ...and replay is a no-op
    cursor.commit(to_v2)

    assert _as_dict(spark, rep) == _as_dict(spark, src) == {
        1: ("a", "p1"), 2: ("B", "p1"), 3: ("c", "p2"), 4: ("d", "p2"),
    }
    assert cursor.poll(spark, key="k")[0] is None  # fully caught up


def test_change_feed_cursor_over_manifest_table(spark, tmp_path):
    from door2door_etl_spark.io.manifest import merge_manifest
    from door2door_etl_spark.io.versioned import ChangeFeedCursor

    src = str(tmp_path / "src")
    merge_manifest(spark, src, _mk(spark, [(1, "a", "p1")]), key="k",
                   vacuum_keep=99)
    merge_manifest(spark, src, _mk(spark, [(2, "b", "p1")]), key="k",
                   vacuum_keep=99)
    cursor = ChangeFeedCursor(src, str(tmp_path / "c.v"))
    # Fresh cursor: window starts at the first retained manifest.
    feed, to_v = cursor.poll(spark, key="k")
    assert to_v == 2
    assert {r["k"]: r["_change_type"] for r in feed.collect()} == {2: "insert"}
    cursor.commit(to_v)
    assert cursor.poll(spark, key="k")[0] is None


def test_merge_check_constraints(spark, tmp_path):
    """Delta-style CHECK constraints: FALSE rows reject the whole batch
    before any commit; NULL/UNKNOWN passes (SQL CHECK semantics)."""
    from door2door_etl_spark.io.manifest import ManifestTable, merge_manifest

    root = str(tmp_path / "tbl")
    ok = _mk(spark, [(1, "a", "p1"), (2, None, "p1")])  # NULL v: passes
    merge_versioned(spark, root, ok, key="k",
                    constraints=["k >= 0", "v != 'forbidden'"])
    assert VersionedParquetTable(root).current_version() == 1

    bad = _mk(spark, [(3, "forbidden", "p1")])
    with pytest.raises(ValueError, match="CHECK constraint"):
        merge_versioned(spark, root, bad, key="k",
                        constraints=["v != 'forbidden'"])
    # Nothing committed: the violating batch never reached a snapshot.
    assert VersionedParquetTable(root).current_version() == 1

    # Manifest-mode twin.
    man = str(tmp_path / "man")
    with pytest.raises(ValueError, match="CHECK constraint"):
        merge_manifest(spark, man, _mk(spark, [(1, "x", "p1")]), key="k",
                       constraints=["k > 5"])
    assert ManifestTable(man).current_version() is None


def test_clone_versioned_zero_copy_independent_history(spark, tmp_path):
    """Snapshot clone: instant (hardlinks, no data copy), contents equal
    the source snapshot, and the two tables' histories and vacuums are
    fully independent afterwards."""
    from door2door_etl_spark.io.versioned import clone_versioned

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    merge_versioned(spark, src, _mk(spark, [(1, "a", "p1"), (2, "b", "p2")]),
                    key="k", partition_col="part", vacuum_keep=99)
    clone_versioned(src, dst)

    assert _as_dict(spark, dst) == _as_dict(spark, src)
    # Zero-copy: the clone's v1 files share inodes with the source snapshot.
    s_table, d_table = VersionedParquetTable(src), VersionedParquetTable(dst)
    s_inodes = {f.stat().st_ino
                for f in (s_table.versions_dir / "data-v00000001").rglob("*.parquet")}
    d_inodes = {f.stat().st_ino
                for f in (d_table.versions_dir / "data-v00000001").rglob("*.parquet")}
    assert d_inodes == s_inodes

    # Diverge both sides: neither sees the other's writes.
    merge_versioned(spark, src, _mk(spark, [(3, "c", "p1")]), key="k",
                    partition_col="part", vacuum_keep=99)
    merge_versioned(spark, dst, _mk(spark, [(9, "z", "p9")]), key="k",
                    partition_col="part", vacuum_keep=99)
    assert 9 not in _as_dict(spark, src) and 3 not in _as_dict(spark, dst)
    # Vacuum the source to the bone: the clone still reads fine (own links).
    s_table.vacuum(keep=1, min_age_hours=0.0)
    assert _as_dict(spark, dst)[1] == ("a", "p1")

    with pytest.raises(ValueError, match="already exists"):
        clone_versioned(src, dst)


def test_restore_rolls_back_without_rewriting_history(spark, tmp_path):
    """RESTORE: a bad batch is rolled back by committing the good snapshot
    as a NEW version — chain contiguous, bad version still inspectable,
    and a subsequent merge builds on the restored state."""
    from door2door_etl_spark.io.versioned import read_version, restore_versioned

    root = str(tmp_path / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "good", "p1")]), key="k",
                    vacuum_keep=99)
    merge_versioned(spark, root, _mk(spark, [(1, "BAD", "p1"), (2, "BAD", "p1")]),
                    key="k", vacuum_keep=99)
    assert restore_versioned(root, 1) == 3
    assert _as_dict(spark, root) == {1: ("good", "p1")}
    # The bad version is still there for forensics (until vacuum).
    assert {r["v"] for r in read_version(spark, root, 2).collect()} == {"BAD"}
    # Restoring the current version is a no-op.
    assert restore_versioned(root, 3) == 3
    merge_versioned(spark, root, _mk(spark, [(5, "next", "p1")]), key="k",
                    vacuum_keep=99)
    assert _as_dict(spark, root) == {1: ("good", "p1"), 5: ("next", "p1")}


def test_cli_restore_step(spark, tmp_path, capsys):
    import json as _json

    from door2door_etl_spark.__main__ import main

    lake = tmp_path / "lake"
    root = str(lake / "warehouse" / "tbl")
    merge_versioned(spark, root, _mk(spark, [(1, "good", "p1")]), key="k",
                    vacuum_keep=99)
    merge_versioned(spark, root, _mk(spark, [(1, "BAD", "p1")]), key="k",
                    vacuum_keep=99)
    assert main([
        "-s", "restore", "--lake-root", str(lake), "--table", "tbl",
        "--to-version", "1",
    ]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["tbl"] == {"restored_to": 1, "new_version": 3}
    assert _as_dict(spark, root) == {1: ("good", "p1")}


def test_describe_history_posix_layout(spark, tmp_path):
    from door2door_etl_spark.io.versioned import (
        VersionedParquetTable,
        merge_versioned,
    )

    root = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    df2 = spark.createDataFrame([(2, "b")], "k int, v string")
    merge_versioned(spark, root, df1, key="k")
    merge_versioned(spark, root, df2, key="k")
    hist = VersionedParquetTable(root).describe_history()
    assert [h["version"] for h in hist] == [2, 1]
    assert hist[0]["current"] and not hist[1]["current"]
    assert all(h["n_files"] >= 1 and h["committed_at"] for h in hist)


def test_describe_history_plain_directory_degrades_gracefully(tmp_path):
    from door2door_etl_spark.io.versioned import VersionedParquetTable

    plain = tmp_path / "never_committed"
    plain.mkdir()
    assert VersionedParquetTable(str(plain)).describe_history() == []
    assert VersionedParquetTable(str(tmp_path / "missing")).describe_history() == []


def test_zorder_equal_depth_balances_skewed_buckets(spark):
    """zorder_buckets(equal_depth=True): on a heavily skewed column the
    quantile cutpoints keep bucket row-counts near-uniform where
    equal-width collapses most rows into one bucket (losing curve
    locality on that dimension); both modes stay in [0, 2^bits) and the
    Morton interleave built on top is identical in shape."""
    from pyspark.sql import functions as F

    from door2door_etl_spark.io.writers import with_zorder_code, zorder_buckets

    # x = i*i: quadratic skew toward small values; y uniform.
    rows = [(i * i, i % 97) for i in range(1000)]
    df = spark.createDataFrame(rows, "x long, y long")
    bits, n = 3, 8

    def histogram(equal_depth):
        out, names = zorder_buckets(df, ["x", "y"], bits, equal_depth)
        h = {
            r["_zb_x"]: r["cnt"]
            for r in out.groupBy("_zb_x").agg(F.count("*").alias("cnt")).collect()
        }
        assert all(0 <= b < n for b in h), h
        return h

    ew = histogram(False)
    ed = histogram(True)
    # equal-width: sqrt shape -> lowest bucket swallows ~35% of rows
    assert max(ew.values()) > 1000 / n * 2, ew
    # equal-depth: every bucket within 2x of the uniform share
    assert len(ed) == n and max(ed.values()) <= 1000 / n * 2, ed
    assert min(ed.values()) >= 1000 / n / 2, ed

    # interleave still produces a single long _zorder column in range
    z = with_zorder_code(df, ["x", "y"], bits, equal_depth=True)
    zmax = z.agg(F.max("_zorder")).first()[0]
    assert 0 <= zmax < 2 ** (2 * bits)
    assert z.columns == ["x", "y", "_zorder"]


def test_layout_is_decided_only_by_open_table():
    """Only the two layout modules may name the manifest layout's commit
    directory; every other module asks ``open_table`` which layout a
    root holds, so the decision cannot drift between call sites."""
    import door2door_etl_spark

    pkg = Path(door2door_etl_spark.__file__).parent
    allowed = {pkg / "io" / "manifest.py", pkg / "io" / "versioned.py"}
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p not in allowed and "_manifests" in p.read_text()
    )
    assert offenders == []


def test_open_table_picks_the_layout_and_both_answer_the_same_reads(
    spark, tmp_path
):
    """``open_table`` is the one layout decision: a POSIX-versioned root
    (or a root holding nothing yet) opens as ``VersionedParquetTable``, a
    ``_manifests/`` root or an object-store URI as ``ManifestTable`` —
    and both answer the same version and time-travel reads."""
    from door2door_etl_spark.io.manifest import (
        LocalFsOps,
        ManifestTable,
        merge_manifest,
    )
    from door2door_etl_spark.io.versioned import open_table

    assert isinstance(open_table(str(tmp_path / "nothing")), VersionedParquetTable)
    for mode, merge in (("posix", merge_versioned), ("manifest", merge_manifest)):
        root = str(tmp_path / mode)
        merge(spark, root, _mk(spark, [(1, "a", "p1")]), key="k", vacuum_keep=99)
        merge(spark, root, _mk(spark, [(1, "b", "p1")]), key="k", vacuum_keep=99)
        table = open_table(root)
        assert isinstance(
            table, VersionedParquetTable if mode == "posix" else ManifestTable
        )
        assert (table.first_retained_version(), table.current_version()) == (1, 2)
        assert [r["v"] for r in table.read(spark, 1).collect()] == ["a"]
        assert [r["v"] for r in table.read(spark).collect()] == ["b"]
        assert [h["version"] for h in table.describe_history()] == [2, 1]
    fs = LocalFsOps()
    assert open_table("s3://bucket/warehouse/t", fs=fs).fs is fs
