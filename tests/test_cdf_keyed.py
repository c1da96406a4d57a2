"""Round 12 — the keyed/delta face of the change feed (VERDICT r11
#1-#3): delta-native MERGE commits (`merge_into_snapshot_delta`), keyed
update classification (`reconcile_updates` / `changes_between(key_cols)`
— Delta CDF `update_preimage`/`update_postimage` semantics, parity with
`snapshot_diff` pinned), the delta-apply replica whose per-batch write
cost is proportional to the BATCH (byte/dir-counted), and the batch
feed's one per-file derivation: its plan is O(1) in version count,
building it runs no Spark job, and it replays time travel exactly."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_self_service_spark.sources import cdf as C
from data_engineering_etl_self_service_spark.sources.snapshots import (
    _read_manifest,
    compact_snapshot,
    delete_where,
    merge_into_snapshot_delta,
    read_snapshot,
    snapshot_diff,
    snapshot_versions,
    write_snapshot,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.format_string("row%04d", F.col("id")).alias("name"),
    )


def _rows(spark, base):
    return sorted(
        tuple(r)
        for r in read_snapshot(spark, base)
        .select("id", "grp", "name")
        .collect()
    )


def _data_dir_bytes(base):
    """Total bytes of data files under every data/<uuid> dir."""
    total = 0
    droot = os.path.join(base, "data")
    for root, _dirs, files in os.walk(droot):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# merge_into_snapshot_delta: the one-commit MoR upsert
# ---------------------------------------------------------------------------


def test_merge_delta_upserts_and_tombstones_in_one_commit(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 100), base, mode="overwrite")  # v1
    updates = spark.createDataFrame(
        [
            (5, 99, "row0005-v2", False),  # replace
            (7, 99, "row0007-v2", False),  # replace
            (200, 4, "row0200", False),  # brand new key
            (10, 0, "", True),  # tombstone
        ],
        "id long, grp long, name string, dead boolean",
    )
    v = merge_into_snapshot_delta(
        spark, base, updates, ["id"], delete_col="dead"
    )
    assert v == 2
    m = _read_manifest(base, 2)
    assert m["mode"] == "merge"
    assert m["n_deleted"] == 3 and m["n_inserted"] == 3
    head = {r["id"]: (r["grp"], r["name"]) for r in read_snapshot(spark, base).collect()}
    assert len(head) == 100  # 100 - 1 dead + 1 new - 0
    assert head[5] == (99, "row0005-v2") and head[7] == (99, "row0007-v2")
    assert head[200] == (4, "row0200")
    assert 10 not in head
    # time travel: the parent version is untouched
    assert read_snapshot(spark, base, version=1).count() == 100
    # one new data dir (the batch), parent dirs carried by reference
    assert len(m["data_dirs"]) == 2


def test_merge_delta_noop_and_orc_boundary(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), base, mode="overwrite")
    empty = spark.createDataFrame([], "id long, grp long, name string")
    assert merge_into_snapshot_delta(spark, base, empty, ["id"]) == 1
    assert snapshot_versions(base) == [1]
    orc = str(tmp_path / "orc_tbl")
    write_snapshot(_df(spark, 0, 10), orc, mode="overwrite", format="orc")
    with pytest.raises(ValueError, match="parquet"):
        merge_into_snapshot_delta(
            spark, orc, _df(spark, 0, 1), ["id"]
        )


def test_merge_feed_classification_batch_and_stream(spark, tmp_path):
    """A merge commit feeds as its own delta: new-vector rows as
    deletes, new-dir rows as inserts — on BOTH faces."""
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 50), base, mode="overwrite")  # v1
    updates = spark.createDataFrame(
        [(3, 99, "new3", False), (60, 1, "row0060", False), (4, 0, "", True)],
        "id long, grp long, name string, dead boolean",
    )
    merge_into_snapshot_delta(spark, base, updates, ["id"], delete_col="dead")
    batch = C.changes_between(spark, base, after_version=1)
    got = {
        (r["change_type"], r["id"]) for r in batch.collect()
    }
    assert got == {
        ("delete", 3),
        ("delete", 4),
        ("insert", 3),
        ("insert", 60),
    }
    # stream parity
    assert C.register_snapshot_cdf(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", base)
        .option("startingversion", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    stream = spark.read.parquet(out)
    cols = sorted(batch.columns)
    assert sorted(tuple(r) for r in stream.select(*cols).collect()) == sorted(
        tuple(r) for r in batch.select(*cols).collect()
    )


# ---------------------------------------------------------------------------
# keyed classification: reconcile_updates / changes_between(key_cols)
# ---------------------------------------------------------------------------


def test_keyed_feed_classifies_updates_and_drops_unchanged(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 20), base, mode="overwrite")  # v1
    # v2 restates: ids 0..19 kept but id 3 changed, id 19 dropped, id 50 added
    restated = _df(spark, 0, 19).withColumn(
        "name",
        F.when(F.col("id") == 3, F.lit("CHANGED")).otherwise(F.col("name")),
    ).unionByName(_df(spark, 50, 51))
    write_snapshot(restated, base, mode="overwrite")  # v2
    keyed = C.changes_between(spark, base, after_version=1, key_cols=["id"])
    got = sorted(
        (r["change_type"], r["id"], r["name"]) for r in keyed.collect()
    )
    assert got == [
        ("delete", 19, "row0019"),
        ("insert", 50, "row0050"),
        ("update_postimage", 3, "CHANGED"),
        ("update_preimage", 3, "row0003"),
    ]


def test_keyed_feed_parity_with_snapshot_diff(spark, tmp_path):
    """The directive's done-criterion: keyed feed == keyed
    snapshot_diff across the same versions (postimage rows are diff's
    'update' rows; preimages are the extra Delta-CDF face)."""
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 100), base, mode="overwrite")  # v1
    restated = _df(spark, 20, 120).withColumn(
        "grp", (F.col("id") % 5).alias("grp")
    )
    write_snapshot(restated, base, mode="overwrite")  # v2
    keyed = C.changes_between(spark, base, after_version=1, key_cols=["id"])
    diff = snapshot_diff(spark, base, 1, 2, key_cols=["id"])
    k = {
        r["change_type"]: set()
        for r in keyed.select("change_type").distinct().collect()
    }
    for r in keyed.collect():
        k[r["change_type"]].add((r["id"], r["grp"], r["name"]))
    d: dict[str, set] = {"insert": set(), "delete": set(), "update": set()}
    for r in diff.collect():
        d[r["change_type"]].add((r["id"], r["grp"], r["name"]))
    assert k["insert"] == d["insert"]
    assert k["delete"] == d["delete"]
    assert k["update_postimage"] == d["update"]
    # every update has exactly one matching preimage key
    assert {t[0] for t in k["update_preimage"]} == {
        t[0] for t in k["update_postimage"]
    }


def test_keyed_feed_on_delete_and_append_versions(spark, tmp_path):
    """Plain appends/deletes pass through the keyed face unchanged
    (no same-version pair to reconcile)."""
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 30), base, mode="overwrite")  # v1
    write_snapshot(_df(spark, 30, 40), base, mode="append")  # v2
    delete_where(spark, base, "id < 5")  # v3
    keyed = C.changes_between(spark, base, key_cols=["id"])
    plain = C.changes_between(spark, base)
    cols = sorted(plain.columns)
    assert sorted(tuple(r) for r in keyed.select(*cols).collect()) == sorted(
        tuple(r) for r in plain.select(*cols).collect()
    )


def test_keyed_feed_merge_commit_becomes_updates(spark, tmp_path):
    """A delta-merge's same-version kill+replace reconciles into
    update_preimage/update_postimage on the keyed face."""
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), base, mode="overwrite")
    updates = spark.createDataFrame(
        [(2, 99, "v2", False), (3, 0, "", True)],
        "id long, grp long, name string, dead boolean",
    )
    merge_into_snapshot_delta(spark, base, updates, ["id"], delete_col="dead")
    keyed = C.changes_between(spark, base, after_version=1, key_cols=["id"])
    got = sorted((r["change_type"], r["id"]) for r in keyed.collect())
    assert got == [
        ("delete", 3),
        ("update_postimage", 2),
        ("update_preimage", 2),
    ]


def test_stream_keycols_is_a_loud_boundary(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 5), base, mode="overwrite")
    assert C.register_snapshot_cdf(spark)
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", base)
        .option("keyCols", "id")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_keyed_boundary")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="reconcile_updates"):
        q.awaitTermination(300)


def test_yaml_pipeline_keyed_cdf_source(spark, tmp_path):
    """The self-service face: a YAML pipeline whose source is the KEYED
    change feed — downstream publishes classified updates, not
    delete+insert pairs."""
    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )

    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 20), base, mode="overwrite")  # v1
    restated = _df(spark, 0, 19).withColumn(
        "name",
        F.when(F.col("id") == 3, F.lit("CHANGED")).otherwise(F.col("name")),
    )
    write_snapshot(restated, base, mode="overwrite")  # v2
    out = str(tmp_path / "published")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "keyed_cdf_consumer"},
            "source": {
                "type": "snapshot_cdf",
                "path": base,
                "after_version": 1,
                "key_cols": "id",
            },
            "destination": {"type": "parquet", "path": out},
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
        }
    )
    assert not spec.warnings
    result = run_pipeline(spark, spec, ds="2026-01-01")
    assert result.report.passed and result.published_path
    got = sorted(
        (r["change_type"], r["id"])
        for r in spark.read.parquet(result.published_path).collect()
    )
    assert got == [
        ("delete", 19),
        ("update_postimage", 3),
        ("update_preimage", 3),
    ]


def test_yaml_cdc_replication_cdf_source_to_merge_sink(spark, tmp_path):
    """Keyed replication in pure YAML: source snapshot_cdf(key_cols) →
    destination snapshot_merge(apply_feed) — run 1 seeds, run 2 applies
    the upstream delta as ONE merge commit."""
    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_snapshot(_df(spark, 0, 50), src, mode="overwrite")  # v1

    def _spec(after):
        return spec_from_dict(
            {
                "pipeline_info": {"name": "yaml_cdc_replication"},
                "source": {
                    "type": "snapshot_cdf",
                    "path": src,
                    "after_version": after,
                    "key_cols": "id",
                },
                "destination": {
                    "type": "snapshot_merge",
                    "path": dst,
                    "key_cols": "id",
                    "apply_feed": True,
                },
                "data_quality_checks": [],
            }
        )

    spec1 = _spec(0)
    assert not spec1.warnings
    run_pipeline(spark, spec1, ds="2026-01-01")
    assert _rows(spark, dst) == _rows(spark, src)
    # upstream delta: delete + restatement changing one row
    delete_where(spark, src, "id % 10 = 3")  # v2
    restated = read_snapshot(spark, src).withColumn(
        "name",
        F.when(F.col("id") == 7, F.lit("UPDATED")).otherwise(F.col("name")),
    )
    write_snapshot(restated, src, mode="overwrite")  # v3
    run_pipeline(spark, _spec(1), ds="2026-01-02")
    assert _rows(spark, dst) == _rows(spark, src)
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge"
    assert m["n_deleted"] == 6 and m["n_inserted"] == 1  # 5 dead + 1 updated


def test_yaml_merge_sink_plain_upsert_and_strategies(spark, tmp_path):
    """snapshot_merge without apply_feed: plain keyed upsert rows with a
    tombstone column; cow strategy produces the same table state."""
    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )

    seed = str(tmp_path / "seed.parquet")
    _df(spark, 0, 20).withColumn("dead", F.lit(False)).write.parquet(seed)
    upd = str(tmp_path / "upd.parquet")
    spark.createDataFrame(
        [(3, 99, "NEW3", False), (5, 0, "", True), (40, 5, "row0040", False)],
        "id long, grp long, name string, dead boolean",
    ).write.parquet(upd)

    def _run(path_in, dst, strategy):
        spec = spec_from_dict(
            {
                "pipeline_info": {"name": f"merge_{strategy}"},
                "source": {"type": "table", "path": path_in},
                "destination": {
                    "type": "snapshot_merge",
                    "path": dst,
                    "key_cols": "id",
                    "delete_col": "dead",
                    "strategy": strategy,
                },
                "data_quality_checks": [],
            }
        )
        assert not spec.warnings
        run_pipeline(spark, spec, ds="2026-01-01")

    state = {}
    for strategy in ("delta", "cow"):
        dst = str(tmp_path / f"dst_{strategy}")
        _run(seed, dst, strategy)
        _run(upd, dst, strategy)
        state[strategy] = _rows(spark, dst)
        head = {r["id"] for r in read_snapshot(spark, dst).collect()}
        assert 5 not in head and 40 in head
    assert state["delta"] == state["cow"]


# ---------------------------------------------------------------------------
# replica: delta apply — convergence AND delta-proportional write cost
# ---------------------------------------------------------------------------


def test_replica_apply_cost_is_proportional_to_the_delta(spark, tmp_path):
    """The r12 headline (VERDICT r11 #1): after the initial sync, a
    small upstream change must NOT rewrite the replica — deletes land
    as position-delete vectors (zero new data bytes), appends land as
    one batch-sized dir, and a restatement costs only its keyed DIFF."""
    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 5000), src, mode="overwrite")  # v1
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    base_bytes = _data_dir_bytes(dst)
    n_dirs_before = len(_read_manifest(dst, snapshot_versions(dst)[-1])["data_dirs"])

    # (a) a 10-row upstream delete: NO new data dir on the replica,
    # only a vector (delete_dirs grows)
    delete_where(spark, src, "id < 10")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge" and m["n_inserted"] == 0
    assert m["n_deleted"] == 10
    assert len(m["data_dirs"]) == n_dirs_before  # zero data rewrite
    assert _data_dir_bytes(dst) == base_bytes

    # (b) a 20-row append: exactly one new dir holding only the delta
    write_snapshot(_df(spark, 9000, 9020), src, mode="append")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert len(m["data_dirs"]) == n_dirs_before + 1
    new_dir = m["data_dirs"][-1]
    assert (
        spark.read.parquet(os.path.join(dst, new_dir)).count() == 20
    )

    # (c) a full upstream RESTATEMENT that changes only 3 rows: the
    # replica writes only the diff (3 updates), never the table
    cur = read_snapshot(spark, src)
    restated = cur.withColumn(
        "name",
        F.when(F.col("id").isin(100, 200, 300), F.lit("RESTATED")).otherwise(
            F.col("name")
        ),
    )
    write_snapshot(restated, src, mode="overwrite")
    pre_bytes = _data_dir_bytes(dst)
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge"
    assert m["n_inserted"] == 3 and m["n_deleted"] == 3
    # the whole restatement cost the replica ~3 rows of parquet, not a
    # rewrite of 5000: generous ceiling, orders below a full rewrite
    assert _data_dir_bytes(dst) - pre_bytes < base_bytes / 10


def test_replica_still_converges_through_all_change_kinds(spark, tmp_path):
    """The r11 convergence contract survives the delta rewrite of the
    applier (appends, deletes, silent maintenance, restatement, more
    appends; replay protection intact)."""
    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 100), src, mode="overwrite")
    write_snapshot(_df(spark, 100, 150), src, mode="append")
    delete_where(spark, src, "id % 4 = 0")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    compact_snapshot(spark, src)  # silent
    write_snapshot(_df(spark, 500, 520), src, mode="overwrite")
    write_snapshot(_df(spark, 600, 605), src, mode="append")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    head = snapshot_versions(dst)[-1]
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert snapshot_versions(dst)[-1] == head  # no-op drain: no commit
    # replica maintenance folds the accumulated vectors, feed-silent
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        materialize_deletes,
    )

    materialize_deletes(spark, dst, min_deleted_fraction=0.0)
    assert _rows(spark, dst) == _rows(spark, src)


def test_replica_position_survives_replica_maintenance(spark, tmp_path):
    """The feed position rides the replica's manifests: replica
    maintenance and vacuum(keep_last=1) carry it, so the next drain
    after an upstream change is a delta merge, not a re-sync."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        compact_small_dirs,
        materialize_deletes,
        vacuum,
    )

    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 200).repartition(4), src, mode="overwrite")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    delete_where(spark, src, "id < 20")
    write_snapshot(_df(spark, 300, 310), src, mode="append")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _read_manifest(dst, snapshot_versions(dst)[-1])["mode"] == "merge"
    materialize_deletes(spark, dst, min_deleted_fraction=0.0)
    compact_snapshot(spark, dst)
    compact_small_dirs(spark, dst, small_file_bytes=1 << 20).collect()
    vacuum(dst, keep_last=1)
    assert len(snapshot_versions(dst)) == 1
    assert not os.path.exists(ck)  # the consumer id names no directory
    write_snapshot(_df(spark, 400, 405), src, mode="append")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge" and m["n_inserted"] == 5
    assert m["feed_position"] == {
        "consumer": ck,
        "version": snapshot_versions(src)[-1],
    }
    assert _rows(spark, dst) == _rows(spark, src)


def test_replica_drain_crashing_before_its_manifest_converges(
    spark, tmp_path, monkeypatch
):
    """Data and feed position commit in one manifest: a drain killed
    after its data write but before the commit leaves the replica head
    unchanged and its staged dir an orphan, and the next drain applies
    the same range exactly once."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 100), src, mode="overwrite")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    delete_where(spark, src, "id < 10")
    write_snapshot(_df(spark, 200, 220), src, mode="append")
    head = snapshot_versions(dst)[-1]
    m_before = _read_manifest(dst, head)
    dirs_before = set(os.listdir(os.path.join(dst, "data")))

    def killed(*a, **k):
        raise OSError("drain killed before its manifest")

    monkeypatch.setattr(snapshots, "_commit_manifest", killed)
    with pytest.raises(OSError, match="killed before its manifest"):
        C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    monkeypatch.undo()
    assert snapshot_versions(dst)[-1] == head
    assert _read_manifest(dst, head) == m_before
    staged = set(os.listdir(os.path.join(dst, "data"))) - dirs_before
    assert len(staged) == 1  # the merge's insert dir, referenced nowhere
    assert os.path.join("data", staged.pop()) not in m_before["data_dirs"]
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    ids = [r["id"] for r in read_snapshot(spark, dst).select("id").collect()]
    assert len(ids) == len(set(ids)) == 110


def test_replica_position_advances_over_silent_upstream_versions(
    spark, tmp_path
):
    """Upstream versions that fold to no row change (a compaction is
    silent in the feed) still advance the replica's position, so an
    upstream vacuum of them leaves the next drain a delta merge."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        vacuum,
    )

    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 50), src, mode="overwrite")
    write_snapshot(_df(spark, 50, 60), src, mode="append")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    compact_snapshot(spark, src)
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["feed_position"]["version"] == snapshot_versions(src)[-1]
    assert m.get("maintenance") is True  # silent in the replica's feed
    assert C.changes_between(
        spark, dst, snapshot_versions(dst)[-2], snapshot_versions(dst)[-1]
    ).count() == 0
    vacuum(src, keep_last=1)
    write_snapshot(_df(spark, 70, 75), src, mode="append")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge" and m["n_inserted"] == 5
    assert _rows(spark, dst) == _rows(spark, src)


def test_overlapping_drains_under_one_consumer_commit_once(
    spark, tmp_path, monkeypatch
):
    """Two drains under one consumer plan the same range; the one that
    commits second finds the position moved and commits nothing, so
    no upserted key lands twice."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 40), src, mode="overwrite")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    merge_into_snapshot_delta(
        spark,
        src,
        spark.createDataFrame(
            [(3, 99, "NEW"), (100, 1, "ADD")], "id long, grp long, name string"
        ),
        ["id"],
    )
    real = snapshots._commit_manifest
    calls = []

    def interleaved(*a, **k):
        calls.append(1)
        if len(calls) == 1:
            # drain A has planned; drain B runs whole and commits first
            C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
        return real(*a, **k)

    monkeypatch.setattr(snapshots, "_commit_manifest", interleaved)
    head = snapshot_versions(dst)[-1]
    with pytest.raises(RuntimeError, match="feed position moved"):
        C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    monkeypatch.undo()
    assert snapshot_versions(dst)[-1] == head + 1  # B's commit only
    assert _rows(spark, dst) == _rows(spark, src)
    ids = [r["id"] for r in read_snapshot(spark, dst).select("id").collect()]
    assert len(ids) == len(set(ids)) == 41


def test_resumed_drain_writes_one_file_per_dir(spark, tmp_path):
    """A resumed drain persists its folded actions and writes the
    vector and the insert dir from them. AQE sizes that cached plan, so
    at test scale each new dir holds one file, not one per shuffle
    partition."""
    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 2000), src, mode="overwrite")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    delete_where(spark, src, "id % 10 = 0")
    merge_into_snapshot_delta(
        spark,
        src,
        _df(spark, 1500, 2500).withColumn("name", F.lit("UPSERTED")),
        ["id"],
    )
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge"
    assert m["n_inserted"] == 1000 and m["n_deleted"] == 650
    for rel in (m["data_dirs"][-1], m["delete_dirs"][-1]):
        files = [
            f
            for f in os.listdir(os.path.join(dst, rel))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, rel


# ---------------------------------------------------------------------------
# review-fix pins (r12 adversarial pass)
# ---------------------------------------------------------------------------


def test_reserved_cdc_columns_are_loud(spark, tmp_path):
    """A real user column named like the internal CDC flags must fail
    loudly, never be silently clobbered (the __dv_file discipline)."""
    from data_engineering_etl_self_service_spark.sources.cdf import (
        TOMBSTONE_COL,
        feed_actions,
    )

    feed = spark.createDataFrame(
        [(1, "x", True, "insert", 1)],
        f"id long, name string, {TOMBSTONE_COL} boolean, "
        "change_type string, version long",
    )
    with pytest.raises(ValueError, match="reserved column"):
        feed_actions(feed, ["id"])
    base = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(5).select(
            "id", F.lit(False).alias("__merge_del")
        ),
        base,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="reserved column"):
        merge_into_snapshot_delta(
            spark, base, read_snapshot(spark, base), ["id"]
        )


def test_batch_face_reads_absolute_key_vectors(
    spark, tmp_path, assert_feed_replays
):
    """ADVICE r11 low #1: delete vectors whose file keys are ABSOLUTE
    (symlink/mount spellings where neither root-strip fired) must read
    on the BATCH face too, with the rows the relative-key vector
    yields. Fabricated by rewriting a real vector's keys to absolute
    paths; the reference is the feed over the original vector, checked
    against time travel before the rewrite (read_snapshot strips the
    root from its own keys, so it cannot read the rewritten vector)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 40), base, mode="overwrite")  # v1
    delete_where(spark, base, "id % 4 = 0")  # v2: 10 rows
    ref = C.changes_between(spark, base, after_version=1)
    assert_feed_replays(base, ref, after_version=1)
    ref_rows = sorted(tuple(r) for r in ref.collect())
    m = _read_manifest(base, 2)
    vdir = os.path.join(base, m["delete_dirs"][0])
    for name in os.listdir(vdir):
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(vdir, name)
        t = pq.read_table(p)
        abs_keys = pa.array(
            [
                k if k.startswith("/") else os.path.join(base, k)
                for k in t.column("file").to_pylist()
            ],
            pa.string(),
        )
        pq.write_table(
            t.set_column(t.column_names.index("file"), "file", abs_keys), p
        )
        # drop the stale Hadoop checksum sidecar of the original write
        crc = os.path.join(vdir, f".{name}.crc")
        if os.path.exists(crc):
            os.unlink(crc)
    batch = C.changes_between(spark, base, after_version=1)
    got = sorted(r["id"] for r in batch.collect())
    assert got == list(range(0, 40, 4))
    assert {r["change_type"] for r in batch.collect()} == {"delete"}
    assert sorted(tuple(r) for r in batch.collect()) == ref_rows


def test_merge_meta_cannot_override_stats_and_carries_batch_id(
    spark, tmp_path
):
    """(a) caller meta colliding with n_deleted/n_inserted must not
    make the manifest lie (the broadcast decision reads n_deleted);
    (b) a merge on a streaming-fed table carries the batch_id high
    watermark forward, so vacuum after a merge can't break the
    exactly-once replay guard."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        last_committed_batch,
        vacuum,
    )

    base = str(tmp_path / "tbl")
    write_snapshot(
        _df(spark, 0, 30), base, mode="overwrite", meta={"batch_id": 7}
    )
    updates = spark.createDataFrame(
        [(3, 99, "NEW", False)], "id long, grp long, name string, dead boolean"
    )
    merge_into_snapshot_delta(
        spark,
        base,
        updates,
        ["id"],
        delete_col="dead",
        meta={"n_deleted": 0, "n_inserted": 99},
    )
    m = _read_manifest(base, snapshot_versions(base)[-1])
    assert m["n_deleted"] == 1 and m["n_inserted"] == 1  # truth wins
    assert m["batch_id"] == 7  # watermark carried without caller meta
    vacuum(base, keep_last=1)
    assert last_committed_batch(base) == 7


def test_reconcile_is_single_pass_no_join(spark, tmp_path):
    """The keyed classification must scan the feed ONCE (one grouped
    aggregation), never a self-join that re-executes the feed per
    side (review r12: 3x Arrow decode on deep-range backfills)."""
    from data_engineering_etl_self_service_spark.sources.cdf import (
        reconcile_updates,
    )

    p = str(tmp_path / "feed.parquet")
    spark.createDataFrame(
        [
            (1, "a", "delete", 2),
            (1, "b", "insert", 2),
            (2, "c", "insert", 2),
            (3, "d", "delete", 2),
            (4, "e", "delete", 2),
            (4, "e", "insert", 2),
        ],
        "id long, name string, change_type string, version long",
    ).write.parquet(p)
    feed = spark.read.parquet(p)
    out = reconcile_updates(feed, ["id"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Relation") == 1  # the feed is scanned once
    got = sorted((r["change_type"], r["id"]) for r in out.collect())
    assert got == [
        ("delete", 3),
        ("insert", 2),
        ("update_postimage", 1),
        ("update_preimage", 1),
    ]  # id=4's unchanged pair dropped


def test_replica_tracks_upstream_schema_drift(spark, tmp_path):
    """An upstream append that ADDS a column between syncs: the feed
    speaks the head schema, so the delta apply lands the wider rows and
    the replica's old rows null-in — no rewrite, no failure."""
    src = str(tmp_path / "src")
    write_snapshot(_df(spark, 0, 30), src, mode="overwrite")
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    write_snapshot(
        _df(spark, 100, 110).withColumn("tag", F.lit("late")),
        src,
        mode="append",
    )
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    got = read_snapshot(spark, dst)
    assert "tag" in got.columns
    assert got.filter(F.col("tag") == "late").count() == 10
    assert got.filter(F.col("tag").isNull()).count() == 30
    assert _read_manifest(dst, snapshot_versions(dst)[-1])["mode"] == "merge"


def test_replica_of_hive_partitioned_upstream(spark, tmp_path):
    """Partitioned upstream tables version by full rewrite; the keyed
    reconciliation turns each rewrite into its diff, and path-encoded
    partition columns ride the feed as plain valued columns."""
    src = str(tmp_path / "src")
    write_snapshot(
        _df(spark, 0, 40), src, mode="overwrite", partition_by=("grp",)
    )
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck")
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    # rewrite: drop grp=3, re-tag one row. Partition-column inference
    # types path columns INT, so the rewrite must cast back to the
    # table's declared bigint — the un-cast version is the type-drift
    # trap the next test pins as a loud boundary.
    nxt = (
        read_snapshot(spark, src)
        .withColumn("grp", F.col("grp").cast("long"))
        .filter(F.col("grp") != 3)
        .withColumn(
            "name",
            F.when(F.col("id") == 8, F.lit("KEPT")).otherwise(F.col("name")),
        )
    )
    write_snapshot(nxt, src, mode="overwrite", partition_by=("grp",))
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(spark, dst) == _rows(spark, src)
    m = _read_manifest(dst, snapshot_versions(dst)[-1])
    assert m["mode"] == "merge"
    assert m["n_inserted"] == 1  # only the changed row, not the rewrite


def test_merge_type_drift_is_a_loud_boundary(spark, tmp_path):
    """Updates whose column TYPE differs from the table's (the
    partition-column bigint→int re-inference trap) must fail at WRITE
    time — committing them would leave parquet files mergeSchema cannot
    reconcile, an unreadable table discovered far from the cause."""
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), base, mode="overwrite")  # grp long
    updates = spark.createDataFrame(
        [(3, 9, "x")], "id long, grp int, name string"
    )
    with pytest.raises(ValueError, match="types differ"):
        merge_into_snapshot_delta(spark, base, updates, ["id"])
    # the staged probe left no committed version behind
    assert snapshot_versions(base) == [1]
    assert read_snapshot(spark, base).count() == 10


# ---------------------------------------------------------------------------
# the one derivation: bounded plan, no build jobs, time-travel replay
# ---------------------------------------------------------------------------


def _fabricate_history(tmp_path, n_versions, rows_per_version=5):
    """A dense n-version append history written directly with pyarrow +
    JSON manifests (the manifest protocol is files, not Spark) — 500
    Spark write jobs would dominate the test's wall."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "deep")
    os.makedirs(os.path.join(base, "_snapshots"))
    dirs = []
    for v in range(1, n_versions + 1):
        rel = os.path.join("data", f"v{v:06d}")
        os.makedirs(os.path.join(base, rel))
        lo = (v - 1) * rows_per_version
        tbl = pa.table(
            {
                "id": pa.array(
                    range(lo, lo + rows_per_version), pa.int64()
                ),
                "grp": pa.array(
                    [i % 7 for i in range(lo, lo + rows_per_version)],
                    pa.int64(),
                ),
            }
        )
        pq.write_table(tbl, os.path.join(base, rel, "part-0.parquet"))
        dirs.append(rel)
        manifest = {
            "version": v,
            "mode": "overwrite" if v == 1 else "append",
            "format": "parquet",
            "created_utc": "2026-01-01T00:00:00Z",
            "data_dirs": list(dirs),
            "schema": "struct<id:bigint,grp:bigint>",
        }
        with open(
            os.path.join(base, "_snapshots", f"v{v:012d}.json"), "w"
        ) as f:
            json.dump(manifest, f)
    return base


def test_deep_history_routes_through_one_mapinarrow_node(spark, tmp_path):
    n = 500
    base = _fabricate_history(tmp_path, n)
    feed = C.changes_between(spark, base)
    plan = feed._jdf.queryExecution().analyzed().toString()
    assert "MapInArrow" in plan
    # bounded: one scan per version would grow the plan with history
    # depth; this plan must not scale with version count at all
    assert len(plan) < 20_000
    got = feed.groupBy("version").agg(F.count("*").alias("n")).collect()
    assert len(got) == n and all(r["n"] == 5 for r in got)
    assert feed.count() == 5 * n
    # spot-check attribution: version 137's rows are its own slice
    v137 = sorted(
        r["id"] for r in feed.filter(F.col("version") == 137).collect()
    )
    assert v137 == list(range(136 * 5, 137 * 5))


def _five_version_table(spark, base, fmt="parquet"):
    """v1 overwrite, v2 append, v3 delete vector, v4 restatement, v5
    delta merge with a tombstone (parquet; ORC has no vectors, so the
    ORC shape stops at the restatement)."""
    write_snapshot(_df(spark, 0, 60), base, mode="overwrite", format=fmt)
    write_snapshot(_df(spark, 60, 80), base, mode="append", format=fmt)
    if fmt == "orc":
        write_snapshot(
            _df(spark, 200, 220), base, mode="overwrite", format=fmt
        )
        return base
    delete_where(spark, base, "id % 9 = 0")  # v3
    write_snapshot(_df(spark, 200, 230), base, mode="overwrite")  # v4
    updates = spark.createDataFrame(
        [(201, 1, "M", False), (202, 2, "", True)],
        "id long, grp long, name string, dead boolean",
    )
    merge_into_snapshot_delta(spark, base, updates, ["id"], delete_col="dead")
    return base


def test_feed_replays_time_travel_through_all_change_kinds(
    spark, tmp_path, assert_feed_replays
):
    """Replaying the feed over each version's parent reproduces that
    version's time-travel read — appends, a delete vector, a
    restatement and a delta merge with a tombstone in one table — and
    windows that start and end mid-history replay too."""
    base = _five_version_table(spark, str(tmp_path / "tbl"))
    feed = C.changes_between(spark, base)
    assert [f.name for f in feed.schema] == [
        "id", "grp", "name", "change_type", "version"
    ]
    assert_feed_replays(base, feed)
    for lo, hi in ((1, 3), (2, 4), (3, 5)):
        assert_feed_replays(
            base,
            C.changes_between(spark, base, after_version=lo, to_version=hi),
            after_version=lo,
            to_version=hi,
        )
    # keyed classification composes with the one derivation
    keyed = C.changes_between(spark, base, after_version=4, key_cols=["id"])
    got = sorted((r["change_type"], r["id"]) for r in keyed.collect())
    assert got == [
        ("delete", 202),
        ("update_postimage", 201),
        ("update_preimage", 201),
    ]


def test_feed_replays_time_travel_on_orc(spark, tmp_path, assert_feed_replays):
    """ORC data files decode on the per-file route too (the format
    rides the manifest into each partition spec) — the feed replays
    time travel across appends and a restatement."""
    base = _five_version_table(spark, str(tmp_path / "tbl"), fmt="orc")
    feed = C.changes_between(spark, base)
    assert_feed_replays(base, feed)
    assert "MapInArrow" in feed._jdf.queryExecution().analyzed().toString()


def test_building_the_feed_launches_no_spark_job(spark, tmp_path):
    """Planning reads manifests and lists files on the driver; every
    data read happens inside the one mapInArrow node when the feed
    executes — building it, keyed or not, runs no Spark job, and a
    1-version range plans as the same single node a 500-version
    range does."""
    base = _five_version_table(spark, str(tmp_path / "tbl"))
    sc = spark.sparkContext
    group = f"test_cdf_keyed-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        feeds = [
            C.changes_between(spark, base),
            C.changes_between(spark, base, key_cols=["id"]),
            C.changes_between(spark, base, after_version=1, to_version=2),
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    one = feeds[2]._jdf.queryExecution().analyzed().toString()
    assert one.count("MapInArrow") == 1
    assert sorted(r["id"] for r in feeds[2].collect()) == list(range(60, 80))
