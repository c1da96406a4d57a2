"""Position-delete vectors on snapshot tables (sources/snapshots.py
delete_where): row-level DELETE without rewriting data files, applied
at read, materialized by compaction, reclaimed by vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_self_service_spark.sources import snapshots as snap
from data_engineering_etl_self_service_spark.sources.snapshots import (
    compact_small_dirs,
    compact_snapshot,
    delete_where,
    read_snapshot,
    snapshot_stats,
    snapshot_versions,
    vacuum,
    write_snapshot,
)


def _mk(spark, tmp_path, n=100):
    base = str(tmp_path / "tbl")
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.format_string("row%04d", F.col("id")).alias("name"),
    )
    write_snapshot(df, base, mode="overwrite")
    return base


def test_delete_hides_rows_without_touching_data(spark, tmp_path):
    base = _mk(spark, tmp_path)
    v1 = snapshot_versions(base)[-1]
    m1 = snap._read_manifest(base, v1)
    v2 = delete_where(spark, base, "grp = 3")
    got = read_snapshot(spark, base)
    assert got.filter("grp = 3").count() == 0
    assert got.count() == 100 - 14  # ids 3,10,...,94
    # data dirs carried BY REFERENCE — zero data movement
    m2 = snap._read_manifest(base, v2)
    assert m2["data_dirs"] == m1["data_dirs"]
    assert m2["delete_rows"] == 14 and len(m2["delete_dirs"]) == 1
    # time travel to the pre-delete version still sees every row
    assert read_snapshot(spark, base, version=v1).count() == 100
    # a version without vectors keeps the plain-scan fast path
    plan = read_snapshot(
        spark, base, version=v1
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_deletes_stack_and_never_double_delete(spark, tmp_path):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "grp = 3")
    # overlapping predicate: grp=3 rows are already dead, so the second
    # vector records only the LIVE matches (id < 30 minus dead ones)
    v3 = delete_where(spark, base, "id < 30")
    m3 = snap._read_manifest(base, v3)
    dead_first = {i for i in range(100) if i % 7 == 3}
    live_matches = {i for i in range(30) if i not in dead_first}
    assert m3["n_deleted"] == len(live_matches)
    assert m3["delete_rows"] == 14 + len(live_matches)
    got = read_snapshot(spark, base)
    expect = [
        i for i in range(100) if i % 7 != 3 and i >= 30
    ]
    assert sorted(r["id"] for r in got.collect()) == expect


def test_column_predicate_and_no_match_no_commit(spark, tmp_path):
    base = _mk(spark, tmp_path)
    v = delete_where(spark, base, F.col("name") == "row0007")
    assert read_snapshot(spark, base).count() == 99
    # nothing matches: no new version, no orphan delete dir
    v2 = delete_where(spark, base, "id > 1000000")
    assert v2 == v
    ddirs = os.listdir(os.path.join(base, "deletes"))
    assert len(ddirs) == 1


def test_append_after_delete(spark, tmp_path):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "grp = 0")
    extra = spark.range(100, 120).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.format_string("row%04d", F.col("id")).alias("name"),
    )
    write_snapshot(extra, base, mode="append")
    got = read_snapshot(spark, base)
    # appended rows are new files — vectors are positional, so even
    # grp=0 appends stay visible; the old grp=0 rows stay dead
    assert got.filter("id >= 100").count() == 20
    assert got.filter("(grp = 0) AND (id < 100)").count() == 0
    m = snap._read_manifest(base, snapshot_versions(base)[-1])
    assert m["delete_rows"] > 0  # carried across the append


def test_compact_materializes_and_vacuum_reclaims(spark, tmp_path):
    base = _mk(spark, tmp_path)
    vdel = delete_where(spark, base, "grp = 5")
    before = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    vc = compact_snapshot(spark, base)
    m = snap._read_manifest(base, vc)
    assert "delete_dirs" not in m
    after = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert after == before
    # the delete-version still replays exactly while retained
    assert sorted(
        r["id"] for r in read_snapshot(spark, base, version=vdel).collect()
    ) == before
    vacuum(base, keep_last=1)
    assert os.listdir(os.path.join(base, "deletes")) == []
    assert sorted(
        r["id"] for r in read_snapshot(spark, base).collect()
    ) == before


def test_vacuum_keeps_live_delete_dirs(spark, tmp_path):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "grp = 1")
    vacuum(base, keep_last=1)
    # head references the vector — vacuum must not reclaim it
    assert len(os.listdir(os.path.join(base, "deletes"))) == 1
    assert read_snapshot(spark, base).filter("grp = 1").count() == 0


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """A writer that died after staging delete files but before the
    manifest link: readers unaffected, vacuum's grace period reclaims."""
    base = _mk(spark, tmp_path)
    orphan = os.path.join(base, "deletes", "deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"not really parquet")
    assert read_snapshot(spark, base).count() == 100
    vacuum(base, keep_last=1, min_age_s=9999)
    assert os.path.isdir(orphan)  # younger than the grace period
    vacuum(base, keep_last=1)
    assert not os.path.isdir(orphan)


def test_shuffle_join_path_parity(spark, tmp_path, monkeypatch):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "grp = 2")
    broadcast = sorted(
        r["id"] for r in read_snapshot(spark, base).collect()
    )
    monkeypatch.setattr(snap, "_BROADCAST_DELETE_ROWS", 0)
    shuffled = sorted(
        r["id"] for r in read_snapshot(spark, base).collect()
    )
    assert broadcast == shuffled


def test_compact_small_dirs_respects_vectors(spark, tmp_path):
    base = str(tmp_path / "tbl")
    for lo in (0, 40):
        df = spark.range(lo, lo + 40).select(
            F.col("id"), (F.col("id") % 5).alias("grp")
        )
        write_snapshot(df.coalesce(4), base, mode="append")
    delete_where(spark, base, "grp = 4")
    visible = sorted(
        r["id"] for r in read_snapshot(spark, base).collect()
    )
    rep = compact_small_dirs(
        spark, base, small_file_bytes=1 << 20, target_mb=1
    ).collect()
    assert rep and all(r["swapped"] for r in rep)
    # rewrites applied the vectors: dead rows NOT resurrected
    after = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert after == visible
    # and the physical data now excludes them (vector entries for the
    # retired dirs match nothing; compaction materialized the deletes)
    m = snap._read_manifest(base, snapshot_versions(base)[-1])
    raw = spark.read.parquet(
        *[os.path.join(base, d) for d in m["data_dirs"]]
    )
    assert raw.filter("grp = 4").count() == 0


def test_stats_and_diff_see_through_vectors(spark, tmp_path):
    base = _mk(spark, tmp_path)
    v1 = snapshot_versions(base)[-1]
    v2 = delete_where(spark, base, "id = 42")
    st = {s["version"]: s for s in snapshot_stats(base)}
    assert st[v2]["n_delete_dirs"] == 1 and st[v2]["delete_rows"] == 1
    assert st[v1]["n_delete_dirs"] == 0
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        snapshot_diff,
    )

    d = snapshot_diff(spark, base, v1, v2, key_cols=["id"]).collect()
    assert len(d) == 1
    assert d[0]["change_type"] == "delete" and d[0]["id"] == 42


def test_symlinked_table_root_compaction_not_resurrecting(spark, tmp_path):
    """Spark's _metadata.file_path does NOT resolve symlinks, so a
    table addressed through a symlinked mount stores keys the realpath
    strip alone would miss; compaction must still apply the vectors
    (review r9: the old dir-prefix filter silently resurrected rows)."""
    real_root = tmp_path / "real"
    real_root.mkdir()
    link = tmp_path / "link"
    os.symlink(real_root, link)
    base = str(link / "tbl")
    for lo in (0, 40):
        df = spark.range(lo, lo + 40).select(
            F.col("id"), (F.col("id") % 5).alias("grp")
        )
        write_snapshot(df.coalesce(4), base, mode="append")
    delete_where(spark, base, "grp = 4")
    visible = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert len(visible) == 64
    rep = compact_small_dirs(
        spark, base, small_file_bytes=1 << 20, target_mb=1
    ).collect()
    assert rep and all(r["swapped"] for r in rep)
    after = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert after == visible
    m = snap._read_manifest(base, snapshot_versions(base)[-1])
    raw = spark.read.parquet(
        *[os.path.join(base, d) for d in m["data_dirs"]]
    )
    assert raw.filter("grp = 4").count() == 0


def test_reserved_lineage_columns_rejected(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df = spark.range(5).select(F.col("id"), F.lit(1).alias("__dv_pos"))
    write_snapshot(df, base, mode="overwrite")
    with pytest.raises(ValueError, match="reserved column"):
        delete_where(spark, base, "id = 1")
    assert read_snapshot(spark, base).count() == 5  # plain reads fine


def test_user_underscore_columns_survive_deletes(spark, tmp_path):
    """Columns named _file/_pos are USER columns — the lineage plumbing
    must not clobber or drop them (review r9)."""
    base = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id"),
        (F.col("id") * 10).alias("_pos"),
        F.format_string("f%d", F.col("id")).alias("_file"),
    )
    write_snapshot(df, base, mode="overwrite")
    delete_where(spark, base, "_pos = 30")  # the USER column
    got = read_snapshot(spark, base)
    assert set(got.columns) == {"id", "_pos", "_file"}
    rows = {r["id"]: (r["_pos"], r["_file"]) for r in got.collect()}
    assert 3 not in rows and rows[7] == (70, "f7")


def test_delete_raced_by_rewrite_raises(spark, tmp_path, monkeypatch):
    """A full rewrite committing between delete_where's predicate scan
    and its manifest commit invalidates the (file, pos) keys — the
    commit must fail loudly, never silently lose the delete."""
    base = _mk(spark, tmp_path)
    real = snap._commit_manifest

    def raced(base_dir, dirs_of_head, mode, schema, meta,
              max_retries=10, deletes_of_head=None):
        if mode == "delete":
            monkeypatch.setattr(snap, "_commit_manifest", real)
            compact_snapshot(spark, base_dir)  # the race
        return real(base_dir, dirs_of_head, mode, schema, meta,
                    max_retries, deletes_of_head)

    monkeypatch.setattr(snap, "_commit_manifest", raced)
    with pytest.raises(RuntimeError, match="raced a data rewrite"):
        delete_where(spark, base, "grp = 3")
    # nothing committed: the table is whole, a plain retry works
    assert read_snapshot(spark, base).count() == 100
    delete_where(spark, base, "grp = 3")
    assert read_snapshot(spark, base).filter("grp = 3").count() == 0


def test_compaction_raced_by_delete_raises(spark, tmp_path, monkeypatch):
    """A delete_where committing mid-compaction may target a flagged
    dir the rewrite didn't apply it to — the compaction commit must
    fail loudly, and the re-run must land correctly."""
    base = str(tmp_path / "tbl")
    for lo in (0, 40):
        df = spark.range(lo, lo + 40).select(
            F.col("id"), (F.col("id") % 5).alias("grp")
        )
        write_snapshot(df.coalesce(4), base, mode="append")
    delete_where(spark, base, "grp = 4")
    real = snap._commit_manifest
    state = {"raced": False}

    def raced(base_dir, dirs_of_head, mode, schema, meta,
              max_retries=10, deletes_of_head=None):
        if mode == "compact" and not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(snap, "_commit_manifest", real)
            delete_where(spark, base_dir, "id = 0")  # the race
        return real(base_dir, dirs_of_head, mode, schema, meta,
                    max_retries, deletes_of_head)

    monkeypatch.setattr(snap, "_commit_manifest", raced)
    with pytest.raises(RuntimeError, match="raced a delete_where"):
        compact_small_dirs(
            spark, base, small_file_bytes=1 << 20, target_mb=1
        )
    # both deletes are in effect; the re-run compacts without
    # resurrecting either
    visible = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert 0 not in visible and all(i % 5 != 4 for i in visible)
    rep = compact_small_dirs(
        spark, base, small_file_bytes=1 << 20, target_mb=1
    ).collect()
    assert rep and all(r["swapped"] for r in rep)
    after = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert after == visible


def test_timestamp_as_of_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: version_as_of picks the latest manifest at or
    before the instant; reads apply that version's vectors. Manifest
    timestamps are pinned via the time module so versions land at
    known, distinct instants."""
    import time as _time

    from data_engineering_etl_self_service_spark.sources.snapshots import (
        read_snapshot_as_of,
        version_as_of,
    )

    base = str(tmp_path / "tbl")
    stamps = iter(
        ["2025-08-01T10:00:00Z", "2025-08-02T10:00:00Z"]
    )
    real_strftime = _time.strftime
    monkeypatch.setattr(
        snap.time,
        "strftime",
        lambda fmt, t=None: next(stamps, None)
        or real_strftime(fmt, t or _time.gmtime()),
    )
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).alias("grp")
    )
    write_snapshot(df, base, mode="overwrite")  # v1 @ 08-01
    delete_where(spark, base, "grp = 1")  # v2 @ 08-02
    assert version_as_of(base, "2025-08-01T12:00:00Z") == 1
    assert version_as_of(base, "2025-08-02T10:00:00Z") == 2
    assert read_snapshot_as_of(
        spark, base, "2025-08-01T23:59:59Z"
    ).count() == 10
    assert read_snapshot_as_of(
        spark, base, "2025-08-03T00:00:00Z"
    ).count() == 5
    with pytest.raises(FileNotFoundError, match="at or before"):
        version_as_of(base, "2025-07-31T00:00:00Z")


def test_version_as_of_rejects_noncanonical_timestamps(spark, tmp_path):
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        version_as_of,
    )

    base = _mk(spark, tmp_path)
    for bad in (
        "2025-08-02T10:00:00",      # missing Z
        "2025-08-02 10:00:00Z",     # space separator
        "2025-08-02T10:00:00.5Z",   # fractional seconds
    ):
        with pytest.raises(ValueError, match="YYYY-MM-DD"):
            version_as_of(base, bad)


def test_materialize_deletes_targets_heavy_dirs_only(spark, tmp_path):
    """rewrite_position_deletes analog: only the data dir over the
    deleted-fraction threshold rewrites (vectors applied); the other
    dir stays by reference; the vector set shrinks to the entries
    still covering surviving dirs."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        materialize_deletes,
    )

    base = str(tmp_path / "tbl")
    # dir A: ids 0..99 (will be heavily deleted); dir B: 100..199
    write_snapshot(
        spark.range(100).select(F.col("id")), base, mode="overwrite"
    )
    write_snapshot(
        spark.range(100, 200).select(F.col("id")), base, mode="append"
    )
    m0 = snap._read_manifest(base, snapshot_versions(base)[-1])
    dir_a, dir_b = m0["data_dirs"]
    delete_where(spark, base, "id < 50")    # 50% of dir A
    delete_where(spark, base, "id = 150")   # 1% of dir B
    visible = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    v = materialize_deletes(spark, base, min_deleted_fraction=0.25)
    m = snap._read_manifest(base, v)
    assert m["mode"] == "materialize"
    # dir A swapped, dir B carried by reference
    assert dir_a not in m["data_dirs"] and dir_b in m["data_dirs"]
    # the vector set shrank to dir B's single entry
    assert m["delete_rows"] == 1 and len(m["delete_dirs"]) == 1
    after = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert after == visible
    # dir A's replacement physically excludes the deleted rows
    new_a = [d for d in m["data_dirs"] if d != dir_b][0]
    raw = spark.read.parquet(os.path.join(base, new_a))
    assert raw.count() == 50 and raw.filter("id < 50").count() == 0


def test_materialize_deletes_noop_and_full_drain(spark, tmp_path):
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        materialize_deletes,
    )

    base = _mk(spark, tmp_path)
    v0 = snapshot_versions(base)[-1]
    # no vectors at all: no-op
    assert materialize_deletes(spark, base) == v0
    delete_where(spark, base, "id < 2")
    v1 = snapshot_versions(base)[-1]
    # under threshold: no-op
    assert materialize_deletes(spark, base, min_deleted_fraction=0.5) == v1
    # over threshold (2% >= 0.01): the single dir rewrites and the
    # table drops its vectors entirely
    v2 = materialize_deletes(spark, base, min_deleted_fraction=0.01)
    m = snap._read_manifest(base, v2)
    assert "delete_dirs" not in m
    assert read_snapshot(spark, base).count() == 98
    vacuum(base, keep_last=1)
    assert read_snapshot(spark, base).count() == 98


def test_materialize_planner_collects_dirs_not_files(spark, tmp_path):
    """VERDICT r9 #1: the rewrite planner's row accounting rolls up
    EXECUTOR-side — the frame the driver collects has one row per data
    DIR (the bounded shape del_by_dir already uses), never one per
    file with its per-row-group/per-chunk arrays."""
    base = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(100).repartition(4), base, mode="overwrite"
    )
    write_snapshot(
        spark.range(100, 200).repartition(5), base, mode="append"
    )
    m = snap._read_manifest(base, snapshot_versions(base)[-1])
    # the fixture is only meaningful if dirs hold MULTIPLE files
    for d in m["data_dirs"]:
        files = [
            f
            for f in os.listdir(os.path.join(base, d))
            if f.endswith(".parquet")
        ]
        assert len(files) > 1
    rows = snap._dir_row_counts(spark, base, m["data_dirs"]).collect()
    assert len(rows) == len(m["data_dirs"]) == 2  # dirs, not 9 files
    got = {r["d"]: r["n"] for r in rows}
    assert set(got) == set(m["data_dirs"])
    assert sum(got.values()) == 200


def test_materialize_tolerates_duplicate_vector_entries(spark, tmp_path):
    """ADVICE r9: two concurrent delete_where calls with overlapping
    predicates can commit the same (file, pos) twice. The anti-join
    never cared; the materialization ACCOUNTING must dedup or its
    expected-row check aborts a correct rewrite."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        materialize_deletes,
    )

    base = str(tmp_path / "tbl")
    write_snapshot(spark.range(100).select(F.col("id")), base, mode="overwrite")
    delete_where(spark, base, "id < 30")
    m = snap._read_manifest(base, snapshot_versions(base)[-1])
    [del_rel] = m["delete_dirs"]
    # simulate the race: the same 30 (file, pos) pairs land in a
    # SECOND committed vector dir
    dup_rel = os.path.join(snap._DELETE_DIR, "duplicated0race")
    spark.read.parquet(os.path.join(base, del_rel)).write.parquet(
        os.path.join(base, dup_rel)
    )
    snap._commit_manifest(
        base,
        lambda dirs: dirs,
        "delete",
        m.get("schema"),
        None,
        deletes_of_head=lambda dels, rows: (dels + [dup_rel], rows + 30),
    )
    assert read_snapshot(spark, base).count() == 70
    # before the dedup fix this raised: expected 100-60=40 vs actual 70
    v = materialize_deletes(spark, base, min_deleted_fraction=0.1)
    m2 = snap._read_manifest(base, v)
    assert "delete_dirs" not in m2  # fully drained
    assert read_snapshot(spark, base).count() == 70


def test_concurrent_delete_dedupes_at_write_time(spark, tmp_path, monkeypatch):
    """WRITE-time vector dedup (round 11 — VERDICT r10 #1 advisory):
    two delete_where calls racing from the same head must not publish
    duplicate (file, pos) pairs — the loser anti-joins its vector
    against the winner's at commit time, so the manifest's delete_rows
    stat is exact and readers carry no redundant pairs."""
    base = _mk(spark, tmp_path)  # ids 0..99
    delete_where(spark, base, "id % 4 = 0")  # winner: 25 rows
    # the racer plans against the PRE-delete head: its first
    # snapshot_versions call sees the stale list, every later call
    # (inside the commit retry loop) sees reality
    real = snap.snapshot_versions
    calls = {"n": 0}

    def stale_once(path):
        calls["n"] += 1
        if calls["n"] == 1:
            return [1]
        return real(path)

    monkeypatch.setattr(snap, "snapshot_versions", stale_once)
    v = delete_where(spark, base, "id % 2 = 0")  # overlaps: 50 matches
    monkeypatch.setattr(snap, "snapshot_versions", real)
    m = snap._read_manifest(base, v)
    # exact accounting: 25 (%4) + 25 (%2 not %4) — never 25 + 50
    assert m["delete_rows"] == 50
    assert m["n_deleted"] == 25
    pairs = spark.read.parquet(
        *[os.path.join(base, d) for d in m["delete_dirs"]]
    ).select("file", "pos")
    assert pairs.count() == pairs.distinct().count() == 50
    got = read_snapshot(spark, base)
    assert got.count() == 50 and got.filter("id % 2 = 0").count() == 0


def test_concurrent_delete_fully_covered_is_noop(spark, tmp_path, monkeypatch):
    """A racer whose every planned pair was already committed by the
    winner publishes NOTHING: no new version, no empty vector dir."""
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "id % 2 = 0")
    head = snapshot_versions(base)[-1]
    n_vec_dirs = len(os.listdir(os.path.join(base, "deletes")))
    real = snap.snapshot_versions
    calls = {"n": 0}

    def stale_once(path):
        calls["n"] += 1
        return [1] if calls["n"] == 1 else real(path)

    monkeypatch.setattr(snap, "snapshot_versions", stale_once)
    v = delete_where(spark, base, "id % 4 = 0")  # subset of the winner
    monkeypatch.setattr(snap, "snapshot_versions", real)
    assert v == head
    assert snapshot_versions(base)[-1] == head
    # superseded/raced vector dirs are unreferenced orphans for vacuum;
    # the manifest still lists exactly the winner's one dir
    m = snap._read_manifest(base, head)
    assert len(m["delete_dirs"]) == 1 and m["delete_rows"] == 50
    vacuum(base, keep_last=1)
    assert len(os.listdir(os.path.join(base, "deletes"))) == 1


def test_materialize_spill_is_cleaned_and_vacuumable(spark, tmp_path):
    """The dedup spill (round 11 — VERDICT r10 #2: localCheckpoint is
    not executor-loss-safe) lands under deletes/ as an unreferenced
    orphan and is removed by the pass itself."""
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "id < 30")
    v = snap.materialize_deletes(spark, base, min_deleted_fraction=0.1)
    m = snap._read_manifest(base, v)
    assert not m.get("delete_dirs")  # fully drained
    # every dir left under deletes/ is manifest-referenced by SOME
    # retained version (the spill itself is gone)
    live = set()
    for vv in snapshot_versions(base):
        live.update(
            os.path.basename(d)
            for d in snap._read_manifest(base, vv).get("delete_dirs", [])
        )
    on_disk = set(os.listdir(os.path.join(base, "deletes")))
    assert on_disk <= live


def _race_first_commit(monkeypatch, racer):
    """Run ``racer`` (which commits) just before the next manifest
    commit, in the gap between a writer's data write and its commit."""
    real = snap._commit_manifest

    def raced(*args, **kwargs):
        monkeypatch.setattr(snap, "_commit_manifest", real)
        racer()
        return real(*args, **kwargs)

    monkeypatch.setattr(snap, "_commit_manifest", raced)


def test_compact_snapshot_keeps_an_append_that_races_its_commit(
    spark, tmp_path, monkeypatch
):
    """compact_snapshot swaps the dirs it rewrote, re-derived against
    the current head: an append committed mid-compaction survives."""
    base = _mk(spark, tmp_path, n=20)
    extra = spark.range(100, 105).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.format_string("row%04d", F.col("id")).alias("name"),
    )
    _race_first_commit(
        monkeypatch, lambda: write_snapshot(extra, base, mode="append")
    )
    v = compact_snapshot(spark, base)
    got = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert got == list(range(20)) + list(range(100, 105))
    assert snap._read_manifest(base, v)["mode"] == "compact"


def test_compact_snapshot_raced_by_delete_raises(
    spark, tmp_path, monkeypatch
):
    """A delete_where committing mid-compaction names rows the rewrite
    kept: compact_snapshot raises and commits nothing, so the deleted
    rows stay deleted."""
    base = _mk(spark, tmp_path, n=20)
    _race_first_commit(
        monkeypatch, lambda: delete_where(spark, base, "id < 5")
    )
    with pytest.raises(RuntimeError, match="raced a delete_where"):
        compact_snapshot(spark, base)
    head = snap._read_manifest(base, snapshot_versions(base)[-1])
    assert head["mode"] == "delete"
    got = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert got == list(range(5, 20))


def test_compact_small_dirs_swaps_a_table_whose_vectors_repeat_pairs(
    spark, tmp_path
):
    """Legacy tables may carry one dead (file, pos) pair in two vector
    dirs; the compaction guard counts distinct pairs, so the swap
    commits and the visible rows stay the same."""
    base = str(tmp_path / "tbl")
    write_snapshot(spark.range(100).select(F.col("id")), base, mode="overwrite")
    delete_where(spark, base, "id < 30")
    m = snap._read_manifest(base, snapshot_versions(base)[-1])
    [del_rel] = m["delete_dirs"]
    dup_rel = os.path.join(snap._DELETE_DIR, "duplicated0race")
    spark.read.parquet(os.path.join(base, del_rel)).write.parquet(
        os.path.join(base, dup_rel)
    )
    snap._commit_manifest(
        base,
        lambda dirs: dirs,
        "delete",
        m.get("schema"),
        None,
        deletes_of_head=lambda dels, rows: (dels + [dup_rel], rows + 30),
    )
    [r] = compact_small_dirs(
        spark, base, small_file_bytes=1 << 20
    ).collect()
    assert r["swapped"] and (r["rows_before"], r["rows_after"]) == (100, 70)
    head = snap._read_manifest(base, snapshot_versions(base)[-1])
    assert head["mode"] == "compact" and "delete_dirs" not in head
    got = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert got == list(range(30, 100))


def test_materialize_deletes_swaps_heavy_dirs_for_one_dir(spark, tmp_path):
    """Three heavily-deleted dirs rewrite into ONE new data dir in one
    materialize commit, and the vectors clear."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        materialize_deletes,
    )

    base = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        write_snapshot(spark.range(lo, lo + 100), base, mode="append")
    before = snap._read_manifest(base, snapshot_versions(base)[-1])
    delete_where(spark, base, "id % 100 < 40")
    visible = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    v = materialize_deletes(spark, base, min_deleted_fraction=0.25)
    m = snap._read_manifest(base, v)
    assert m["mode"] == "materialize" and "delete_dirs" not in m
    assert len(m["data_dirs"]) == 1
    assert not set(m["data_dirs"]) & set(before["data_dirs"])
    after = sorted(r["id"] for r in read_snapshot(spark, base).collect())
    assert after == visible and len(after) == 180
