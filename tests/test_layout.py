"""Lake layout operators: compaction sizing and Z-order data skipping."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_self_service_spark.operators.layout import (
    compact,
    zorder_by,
    zorder_key,
)


def test_compact_reduces_file_count(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("small_files"))
    out = str(tmp_path_factory.mktemp("compacted"))
    spark.range(0, 100_000).repartition(64).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 64
    n = compact(spark, src, out, target_mb=128)
    assert n == 1  # ~800 KB of input → one target file
    assert len(glob.glob(f"{out}/part-*")) == 1
    assert spark.read.parquet(out).count() == 100_000


def test_zorder_key_interleaves_bits(spark):
    # 2 columns, 2 bits each: corners of the unit square map to the
    # classic Morton order 0,1,2,3.
    df = spark.createDataFrame(
        [(0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0)], "x double, y double"
    )
    got = {
        (r.x, r.y): r.k
        for r in df.withColumn("k", zorder_key(df, ["x", "y"], bits=2)).collect()
    }
    assert got[(0.0, 0.0)] == 0
    assert got[(3.0, 0.0)] == 0b0101  # x bits at even positions
    assert got[(0.0, 3.0)] == 0b1010
    assert got[(3.0, 3.0)] == 0b1111


def test_zorder_clusters_both_dimensions(spark, tmp_path_factory):
    """After Z-order by (x, y), each output file covers a small box of BOTH
    dimensions — the property parquet min/max skipping needs. A plain sort
    by x would leave per-file y spans ≈ the full domain."""
    out = str(tmp_path_factory.mktemp("zordered"))
    n, files = 40_000, 16
    df = spark.range(0, n).select(
        (F.col("id") % 200).cast("double").alias("x"),
        (F.floor(F.col("id") / 200)).cast("double").alias("y"),
    )
    zorder_by(df, ["x", "y"], n_files=files).write.mode("overwrite").parquet(out)
    spans = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert len(spans) == files
    avg_sx = sum(r.sx for r in spans) / files
    avg_sy = sum(r.sy for r in spans) / files
    # global span is ~200 in each dimension; clustered files must be far
    # narrower in BOTH (perfect quadrants would be ~50).
    assert avg_sx < 120 and avg_sy < 120, (avg_sx, avg_sy)


def test_compact_flagged_partitions_end_to_end(spark, tmp_path):
    """Audit → compaction loop (round 8): only the small-file-flagged
    partition is rewritten, rows are preserved and verified, the
    healthy partition's files are untouched, and a re-audit shows the
    flag cleared."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_etl_self_service_spark.operators.layout import (
        compact_flagged,
    )
    from data_engineering_etl_self_service_spark.operators.parquet_meta import (
        lake_audit_report,
    )

    lake = tmp_path / "lake"
    # part=s: five tiny files (flag fires); part=h: one healthy file
    os.makedirs(lake / "part=s")
    # each ~3 KB (< threshold); merged ~13 KB (> threshold)
    for i in range(5):
        pq.write_table(
            pa.table(
                {"x": pa.array(range(i * 300, i * 300 + 300), pa.int64())}
            ),
            str(lake / "part=s" / f"f{i}.parquet"),
            compression="none",
        )
    os.makedirs(lake / "part=h")
    pq.write_table(  # comfortably above the small-file threshold
        pa.table({"x": pa.array(range(20_000), pa.int64())}),
        str(lake / "part=h" / "f0.parquet"),
        compression="none",
    )
    before_h = sorted(glob.glob(str(lake / "part=h" / "*")))

    rep = {
        r["partition"]: r
        for r in compact_flagged(
            spark, str(lake), small_file_bytes=4096, target_mb=128
        ).collect()
    }
    # only the flagged partition was compacted
    assert set(rep) == {"part=s"}
    r = rep["part=s"]
    assert r["swapped"] is True
    assert r["files_before"] == 5 and r["files_after"] < 5
    assert r["rows_before"] == r["rows_after"] == 1500
    # data identical after the swap
    got = sorted(
        x["x"] for x in spark.read.parquet(str(lake / "part=s")).collect()
    )
    assert got == list(range(1500))
    # healthy partition byte-for-byte untouched
    assert sorted(glob.glob(str(lake / "part=h" / "*"))) == before_h
    # staging/retired dirs cleaned up
    assert not any("__" in d for d in os.listdir(lake))
    # re-audit: the flag is cleared
    rep2 = {
        a["partition"]: a
        for a in lake_audit_report(
            spark, str(lake), small_file_bytes=4096
        ).collect()
    }
    assert rep2["part=s"]["small_file_flag"] is False


def test_compact_flagged_recovers_crashed_swap(spark, tmp_path):
    """Review r8: a crash between the two swap renames leaves the data
    in part=x__retired with the partition dir missing — the recovery
    sweep restores it, and audits never see staging dirs."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_etl_self_service_spark.operators.layout import (
        compact_flagged,
    )
    from data_engineering_etl_self_service_spark.operators.parquet_meta import (
        lake_audit_report,
    )

    lake = tmp_path / "lake"
    d = lake / "part=x"
    d.mkdir(parents=True)
    pq.write_table(
        pa.table({"x": pa.array(range(500), pa.int64())}),
        str(d / "f.parquet"),
    )
    # simulate the crash window: src renamed away, staging half-done
    os.rename(d, str(d) + "__retired")
    os.makedirs(str(d) + "__compacting")
    # audits ignore the in-flight dirs entirely
    assert lake_audit_report(spark, str(lake)).count() == 0
    # the next maintenance run restores the partition first
    compact_flagged(spark, str(lake), small_file_bytes=1)
    assert sorted(os.listdir(lake)) == ["part=x"]
    assert spark.read.parquet(str(d)).count() == 500


def test_compact_small_dirs_single_pointer_commit(spark, tmp_path):
    """Snapshot-table compaction (round 9, VERDICT r8 #4): the
    audit→compaction loop on a snapshot table commits via the manifest
    pointer — no renames. Flagged data dirs are rewritten into fresh
    dirs and swapped in ONE new version; unflagged dirs ride along by
    reference; rows and time travel are preserved; the streaming
    batch_id watermark survives; orphans (a crashed writer's dir, a
    drifted rewrite) are never referenced."""
    from data_engineering_etl_self_service_spark.operators.layout import (
        compact_flagged,
    )
    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    # v1: 8 tiny files; v2 append: 8 more tiny files; v3 append: one
    # healthy file (kept by reference)
    snapshots.write_snapshot(
        spark.range(100)
        .selectExpr("id", "md5(cast(id AS string)) AS h")
        .repartition(8),
        base,
    )
    snapshots.write_snapshot(
        spark.range(100, 200)
        .selectExpr("id", "md5(cast(id AS string)) AS h")
        .repartition(8),
        base,
        meta={"batch_id": 41},
    )
    snapshots.write_snapshot(
        spark.range(200, 300)
        .selectExpr("id", "md5(cast(id AS string)) AS h")
        .coalesce(1),
        base,
    )
    head = snapshots.snapshot_versions(base)[-1]
    dirs_before = snapshots._read_manifest(base, head)["data_dirs"]
    assert len(dirs_before) == 3
    # a crashed writer's orphan dir must not be audited into the swap
    orphan = tmp_path / "snap" / "data" / "deadbeef"
    spark.range(5).repartition(4).write.parquet(str(orphan))

    out = compact_flagged(
        spark, base, small_file_bytes=2 << 10, target_mb=128
    ).collect()
    swapped = {r["partition"]: r for r in out if r["swapped"]}
    assert len(swapped) == 2  # the two tiny-file dirs; healthy + orphan not touched
    for r in swapped.values():
        assert r["partition"].startswith("data/")
        assert r["files_before"] == 8 and r["files_after"] == 1
        assert r["rows_before"] == r["rows_after"] == 100

    new_head = snapshots.snapshot_versions(base)[-1]
    assert new_head == head + 1
    m = snapshots._read_manifest(base, new_head)
    assert m["mode"] == "compact"
    assert m["batch_id"] == 41  # exactly-once watermark carried
    assert len(m["data_dirs"]) == 2  # many-to-one: flagged dirs → ONE
    # the healthy dir rides along BY REFERENCE (same relpath)
    kept = set(dirs_before) & set(m["data_dirs"])
    assert len(kept) == 1
    assert "data/deadbeef" not in m["data_dirs"]
    # rows preserved, new head reads back whole
    got = sorted(
        r["id"]
        for r in snapshots.read_snapshot(spark, base).collect()
    )
    assert got == list(range(300))
    # time travel: the PRE-compaction head still reads its old dirs
    old = snapshots.read_snapshot(spark, base, version=head)
    assert old.count() == 300
    # re-audit: flag cleared (no more small-file-majority dirs in head)
    again = compact_flagged(
        spark, base, small_file_bytes=2 << 10, target_mb=128
    ).collect()
    assert again == []


def test_compact_small_dirs_crash_mid_commit_keeps_readers_whole(
    spark, tmp_path, monkeypatch
):
    """VERDICT r8 #4 'done' bar: a compaction writer killed at the
    manifest publish leaves readers on the old version with NO double
    counting — the rewritten dirs are invisible orphans vacuum
    reclaims — and a plain retry completes the swap."""
    import os as _os

    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    snapshots.write_snapshot(spark.range(50).repartition(8), base)

    real_link = _os.link

    def boom(src, dst):
        raise KeyboardInterrupt("compactor killed before publish")

    monkeypatch.setattr(snapshots.os, "link", boom)
    with pytest.raises(KeyboardInterrupt):
        snapshots.compact_small_dirs(
            spark, base, small_file_bytes=1 << 20
        )
    monkeypatch.setattr(snapshots.os, "link", real_link)

    # readers: old version, exact rows, no doubles
    assert snapshots.snapshot_versions(base) == [1]
    df = snapshots.read_snapshot(spark, base)
    assert sorted(r["id"] for r in df.collect()) == list(range(50))
    data_root = tmp_path / "snap" / "data"
    assert len(list(data_root.iterdir())) == 2  # v1 dir + orphan rewrite
    # vacuum reclaims the orphan (grace period honored first)
    assert snapshots.vacuum(base, keep_last=1, min_age_s=3600.0) == []
    assert len(snapshots.vacuum(base, keep_last=1)) == 1
    assert snapshots.read_snapshot(spark, base).count() == 50
    # retry completes normally
    out = snapshots.compact_small_dirs(
        spark, base, small_file_bytes=1 << 20
    ).collect()
    assert len(out) == 1 and out[0]["swapped"]
    assert snapshots.snapshot_versions(base) == [1, 2]
    assert snapshots.read_snapshot(spark, base).count() == 50


def test_compact_small_dirs_leaves_partitioned_dirs_alone(
    spark, tmp_path
):
    """Hive-partitioned snapshot versions (overwrite-only by contract)
    version by full rewrite — dir-level compaction must not flatten
    their layout."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    df = spark.range(40).selectExpr("id", "id % 2 AS ds").repartition(8)
    snapshots.write_snapshot(
        df, base, mode="overwrite", partition_by=("ds",)
    )
    out = snapshots.compact_small_dirs(
        spark, base, small_file_bytes=1 << 20
    ).collect()
    assert out == []
    assert snapshots.snapshot_versions(base) == [1]  # no empty commit
    assert snapshots.read_snapshot(spark, base).count() == 40


def test_compact_small_dirs_lost_race_republishes_newer_batch_id(
    spark, tmp_path, monkeypatch
):
    """review r9: a compaction that loses the manifest race to a
    concurrent STREAMING commit must republish the winner's newer
    batch_id (and current-head schema), not the pre-audit value —
    otherwise last_committed_batch regresses and the exactly-once
    replay guard re-appends the raced epoch."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    snapshots.write_snapshot(
        spark.range(50).repartition(8), base, meta={"batch_id": 41}
    )

    real_link = snapshots.os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            # the streaming sink wins the race mid-commit
            snapshots.write_snapshot(
                spark.range(100, 110), base, meta={"batch_id": 42}
            )
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(snapshots.os, "link", racing_link)
    out = snapshots.compact_small_dirs(
        spark, base, small_file_bytes=1 << 20
    ).collect()
    monkeypatch.setattr(snapshots.os, "link", real_link)
    assert len(out) == 1 and out[0]["swapped"]
    # three versions: v1, the racing v2, the compaction v3
    assert snapshots.snapshot_versions(base) == [1, 2, 3]
    head = snapshots._read_manifest(base, 3)
    assert head["mode"] == "compact"
    assert head["batch_id"] == 42  # the WINNER's watermark, not 41
    assert snapshots.last_committed_batch(base) == 42
    # the racing append's rows survive the compaction commit
    got = sorted(
        r["id"] for r in snapshots.read_snapshot(spark, base).collect()
    )
    assert got == list(range(50)) + list(range(100, 110))


def test_materialize_deletes_lost_race_republishes_newer_batch_id(
    spark, tmp_path, monkeypatch
):
    """A materialize commit that loses the manifest race to a streaming
    commit re-reads consumer progress on the retry: it republishes the
    winner's newer batch_id, and the raced append's rows survive."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    snapshots.write_snapshot(
        spark.range(50).repartition(8), base, meta={"batch_id": 41}
    )
    snapshots.delete_where(spark, base, "id < 10")
    sink = snapshots.snapshot_batch_sink(base)

    real_link = snapshots.os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            sink(spark.range(100, 110), 42)  # wins the race mid-commit
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(snapshots.os, "link", racing_link)
    v = snapshots.materialize_deletes(spark, base, min_deleted_fraction=0.1)
    monkeypatch.setattr(snapshots.os, "link", real_link)
    head = snapshots._read_manifest(base, v)
    assert head["mode"] == "materialize" and "delete_dirs" not in head
    assert head["batch_id"] == 42  # the WINNER's watermark, not 41
    assert snapshots.last_committed_batch(base) == 42
    got = sorted(
        r["id"] for r in snapshots.read_snapshot(spark, base).collect()
    )
    assert got == list(range(10, 50)) + list(range(100, 110))


def test_compact_small_dirs_raced_overwrite_reports_not_swapped(
    spark, tmp_path, monkeypatch
):
    """review r9b: when a concurrent OVERWRITE races the flagged dir
    out of the head between audit and commit, the substitution is a
    no-op — the report must say swapped=False (the rewrite is just an
    orphan), not claim landed work."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    snapshots.write_snapshot(spark.range(50).repartition(8), base)

    real_link = snapshots.os.link
    state = {"raced": False}

    def racing_link(src, dst):
        if not state["raced"]:
            state["raced"] = True
            snapshots.write_snapshot(
                spark.range(900, 910), base, mode="overwrite"
            )
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(snapshots.os, "link", racing_link)
    out = snapshots.compact_small_dirs(
        spark, base, small_file_bytes=1 << 20
    ).collect()
    monkeypatch.setattr(snapshots.os, "link", real_link)
    assert len(out) == 1
    assert out[0]["swapped"] is False
    assert out[0]["files_after"] == out[0]["files_before"]
    # the overwrite's head is untouched by the no-op compact commit
    got = sorted(
        r["id"] for r in snapshots.read_snapshot(spark, base).collect()
    )
    assert got == list(range(900, 910))


def test_compact_small_dirs_stays_bounded_over_daily_rounds(
    spark, tmp_path
):
    """Daily publish + retention delete + compaction, the self-service
    maintenance cycle: the head never holds more than two data dirs or
    a 0-row dir, compaction never changes the live rows, and a round
    with nothing to gain commits no compact version."""
    import os

    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")

    def _ids():
        return sorted(
            r["id"] for r in snapshots.read_snapshot(spark, base).collect()
        )

    for day in range(6):
        snapshots.write_snapshot(
            spark.range(day * 100, day * 100 + 100)
            .select(F.col("id"), F.floor(F.col("id") / 100).alias("day"))
            .repartition(4),
            base,
        )
        snapshots.delete_where(spark, base, f"day < {day - 1}")
        live = _ids()
        snapshots.compact_small_dirs(
            spark, base, small_file_bytes=1 << 20
        ).collect()
        head = snapshots._read_manifest(
            base, snapshots.snapshot_versions(base)[-1]
        )
        assert head["mode"] == "compact"
        assert len(head["data_dirs"]) <= 2
        for d in head["data_dirs"]:
            assert spark.read.parquet(os.path.join(base, d)).count() > 0
        assert _ids() == live
        v = snapshots.snapshot_versions(base)[-1]
        again = snapshots.compact_small_dirs(
            spark, base, small_file_bytes=1 << 20
        ).collect()
        assert again == [] and snapshots.snapshot_versions(base)[-1] == v


def test_compact_small_dirs_skips_a_lone_small_dir_no_vector_names(
    spark, tmp_path
):
    """Vectors that name only a large unflagged dir must stay, so
    rewriting a lone one-file small dir would gain nothing: no commit."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    base = str(tmp_path / "snap")
    snapshots.write_snapshot(
        spark.range(0, 50000).coalesce(1), base, mode="overwrite"
    )
    snapshots.write_snapshot(spark.range(90000, 90005).coalesce(1), base)
    snapshots.delete_where(spark, base, "id < 10")
    v = snapshots.snapshot_versions(base)[-1]
    out = snapshots.compact_small_dirs(
        spark, base, small_file_bytes=16 << 10
    ).collect()
    assert out == [] and snapshots.snapshot_versions(base)[-1] == v


def test_zorder_layout_improves_measured_skipping(spark, tmp_path):
    """Writer↔auditor synergy: zorder_by exists to make min/max
    skipping work in BOTH dimensions, and pruning_report is the tool
    that measures skipping — so a z-ordered layout must measurably
    beat a randomly-bucketed one on the SAME predicate in each
    dimension (round 9: the two halves pin each other)."""
    from data_engineering_etl_self_service_spark.operators.layout import (
        zorder_by,
    )
    from data_engineering_etl_self_service_spark.operators.parquet_meta import (
        pruning_report,
    )

    n, files = 40_000, 16
    df = spark.range(0, n).select(
        (F.col("id") % 200).alias("x"),
        (F.floor(F.col("id") / 200)).alias("y"),
    )
    shuffled = str(tmp_path / "shuffled")
    zordered = str(tmp_path / "zordered")
    df.repartition(files).write.parquet(shuffled)
    zorder_by(df, ["x", "y"], n_files=files).write.parquet(zordered)

    def scanned(path, col):
        rep = pruning_report(
            spark, path, column=col, lo=0, hi=24
        ).collect()
        return sum(r["rows_scanned"] for r in rep)

    for col in ("x", "y"):
        rand = scanned(shuffled, col)
        z = scanned(zordered, col)
        # random bucketing: every file spans the domain -> ~no skipping
        assert rand == n, (col, rand)
        # z-order: the 12.5%-of-domain predicate prunes most files
        assert z < n // 2, (col, z)


def test_compact_flagged_isolates_a_failing_partition(spark, tmp_path):
    """Per-item failure isolation (ADVICE r10: pool.map propagated the
    first exception and abandoned every other partition's swap): a
    partition whose rewrite dies reports swapped=False / rows_after=-1
    with its data untouched, while the healthy flagged partition still
    swaps."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_etl_self_service_spark.operators.layout import (
        compact_flagged,
    )

    lake = tmp_path / "lake"
    for part in ("part=bad", "part=ok"):
        os.makedirs(lake / part)
        for i in range(3):
            pq.write_table(
                pa.table({"x": pa.array(range(300), pa.int64())}),
                str(lake / part / f"f{i}.parquet"),
                compression="none",
            )
    # poison one partition: a structurally-valid parquet whose column
    # type CONFLICTS — the footers-only audit sails through, the
    # rewrite's actual read job dies on the type conversion
    pq.write_table(
        pa.table({"x": pa.array(["boom"] * 300, pa.string())}),
        str(lake / "part=bad" / "f9.parquet"),
        compression="none",
    )
    before_bad = sorted(glob.glob(str(lake / "part=bad" / "*")))

    rep = {
        r["partition"]: r
        for r in compact_flagged(
            spark, str(lake), small_file_bytes=4096, target_mb=128
        ).collect()
    }
    assert rep["part=ok"]["swapped"] is True
    assert rep["part=ok"]["rows_after"] == 900
    assert rep["part=bad"]["swapped"] is False
    assert rep["part=bad"]["rows_after"] == -1
    # the failed partition's files are byte-for-byte untouched and no
    # staging residue is left behind
    assert sorted(glob.glob(str(lake / "part=bad" / "*"))) == before_bad
    assert not any("__" in d for d in os.listdir(lake))


def test_nested_flag_detection_sorted_adjacency(tmp_path):
    """The O(K log K) nested-flag check (ADVICE r10) must match the
    all-pairs truth — including the lexicographic trap where a label
    like 'ds=1.bak' sorts BETWEEN 'ds=1' and 'ds=1/hr=2'."""

    def fast(labels):
        keys = sorted(p + "/" for p in labels)
        return any(b.startswith(a) for a, b in zip(keys, keys[1:]))

    def truth(labels):
        return any(
            a != b and (b + "/").startswith(a + "/")
            for a in labels
            for b in labels
        )

    cases = [
        ["ds=1", "ds=2", "ds=3"],
        ["ds=1", "ds=1/hr=2"],
        ["ds=1", "ds=1.bak", "ds=1/hr=2"],  # the trap
        ["ds=1", "ds=10", "ds=1/hr=2"],
        ["ds=1/hr=2", "ds=1/hr=3", "ds=2"],
        ["a", "ab", "abc"],  # string prefixes are NOT path-nested
        ["a", "a/b/c", "a0", "a!"],
    ]
    for labels in cases:
        assert fast(labels) == truth(labels), labels
    # randomized cross-check
    import itertools
    import random

    rng = random.Random(11)
    alphabet = ["ds=1", "ds=2", "hr=1", "hr=2"]
    for _ in range(300):
        labels = list(
            {
                "/".join(
                    rng.choice(alphabet)
                    for _ in range(rng.randint(1, 3))
                )
                for _ in range(rng.randint(1, 6))
            }
        )
        assert fast(labels) == truth(labels), labels
