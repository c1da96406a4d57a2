"""Streaming change-data-feed over snapshot tables (round 11 — VERDICT
r10 #1): the Delta CDF / Iceberg incremental-read analog. Pins the
change-derivation contract per manifest mode, batch/stream parity on
both table formats, Spark-checkpoint crash-resume, the history-expiry
boundary, and the apply-the-feed reconstruction invariant."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_self_service_spark.sources import cdf as C
from data_engineering_etl_self_service_spark.sources.snapshots import (
    _manifest_path,
    compact_snapshot,
    delete_where,
    read_snapshot,
    snapshot_versions,
    vacuum,
    write_snapshot,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.format_string("row%04d", F.col("id")).alias("name"),
    )


def _mk(spark, tmp_path, fmt="parquet"):
    """v1 overwrite(0..100), v2 append(100..150)."""
    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 100), base, mode="overwrite", format=fmt)
    write_snapshot(_df(spark, 100, 150), base, mode="append", format=fmt)
    return base


def _stream_all(spark, base, tmp_path, tag, **opts):
    """Drain the snapshot_cdf source via availableNow into parquet and
    return the result DataFrame (fresh sink+checkpoint per tag)."""
    assert C.register_snapshot_cdf(spark)
    out = str(tmp_path / f"out_{tag}")
    ck = str(tmp_path / f"ck_{tag}")
    reader = spark.readStream.format("snapshot_cdf").option("path", base)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(out)


def _counts(df):
    return {
        (r["change_type"], r["version"]): r["n"]
        for r in df.groupBy("change_type", "version")
        .agg(F.count("*").alias("n"))
        .collect()
    }


# ---------------------------------------------------------------------------
# batch face: per-mode change derivation
# ---------------------------------------------------------------------------


def test_batch_changes_append_and_delete(spark, tmp_path):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "id % 10 = 0")  # v3: 15 rows die
    compact_snapshot(spark, base)  # v4: maintenance, silent
    got = _counts(C.changes_between(spark, base))
    assert got == {
        ("insert", 1): 100,
        ("insert", 2): 50,
        ("delete", 3): 15,
    }
    # the deleted rows are the actual predicate matches
    dels = (
        C.changes_between(spark, base, after_version=2, to_version=3)
        .select("id")
        .collect()
    )
    assert sorted(r["id"] for r in dels) == list(range(0, 150, 10))


def test_batch_changes_overwrite_restates(spark, tmp_path):
    base = _mk(spark, tmp_path)
    write_snapshot(_df(spark, 200, 220), base, mode="overwrite")  # v3
    got = _counts(C.changes_between(spark, base, after_version=2))
    assert got == {("delete", 3): 150, ("insert", 3): 20}


def test_batch_changes_window_and_empty_range(spark, tmp_path):
    base = _mk(spark, tmp_path)
    got = _counts(C.changes_between(spark, base, after_version=1))
    assert got == {("insert", 2): 50}
    empty = C.changes_between(spark, base, after_version=2)
    assert empty.count() == 0
    assert {"change_type", "version"} <= set(empty.columns)


def test_reserved_columns_are_loud(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(5).select("id", F.lit(9).alias("version")),
        base,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="reserved column"):
        C.changes_between(spark, base)


# ---------------------------------------------------------------------------
# streaming face: parity, resume, formats
# ---------------------------------------------------------------------------


def _assert_parity(spark, batch_df, stream_df):
    cols = sorted(batch_df.columns)
    assert sorted(stream_df.columns) == cols
    b = sorted(tuple(r) for r in batch_df.select(*cols).collect())
    s = sorted(tuple(r) for r in stream_df.select(*cols).collect())
    assert b == s


def test_stream_batch_parity_parquet_with_deletes(
    spark, tmp_path, assert_feed_replays
):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "id % 10 = 0")
    compact_snapshot(spark, base)
    stream = _stream_all(spark, base, tmp_path, "p")
    _assert_parity(spark, C.changes_between(spark, base), stream)
    assert_feed_replays(base, stream)


def test_stream_batch_parity_orc_with_restatement(
    spark, tmp_path, assert_feed_replays
):
    base = _mk(spark, tmp_path, fmt="orc")
    write_snapshot(_df(spark, 200, 220), base, mode="overwrite", format="orc")
    stream = _stream_all(spark, base, tmp_path, "o")
    _assert_parity(spark, C.changes_between(spark, base), stream)
    assert_feed_replays(base, stream)
    assert _counts(stream) == {
        ("insert", 1): 100,
        ("insert", 2): 50,
        ("delete", 3): 150,
        ("insert", 3): 20,
    }


def test_stream_checkpoint_resume_exactly_once(spark, tmp_path):
    base = _mk(spark, tmp_path)
    assert C.register_snapshot_cdf(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def _drain():
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", base)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    _drain()
    assert _counts(spark.read.parquet(out)) == {
        ("insert", 1): 100,
        ("insert", 2): 50,
    }
    # no new versions: a re-run with the same checkpoint emits NOTHING
    _drain()
    assert spark.read.parquet(out).count() == 150
    # new commits resume from the checkpointed version only
    delete_where(spark, base, "id < 3")
    write_snapshot(_df(spark, 300, 310), base, mode="append")
    _drain()
    got = _counts(spark.read.parquet(out))
    assert got[("delete", 3)] == 3 and got[("insert", 4)] == 10
    assert got[("insert", 1)] == 100  # not duplicated


def test_stream_startingversion_and_initial_snapshot_vectors(
    spark, tmp_path
):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "id % 2 = 0")  # v3
    # startingversion=3: only the delete commit
    s3 = _stream_all(spark, base, tmp_path, "sv3", startingversion="3")
    assert _counts(s3) == {("delete", 3): 75}
    # expire history down to the head; a from-the-beginning consumer
    # gets an initial snapshot with the vectors APPLIED (dead rows
    # must not resurrect)
    vacuum(base, keep_last=1)
    assert snapshot_versions(base) == [3]
    init = _stream_all(spark, base, tmp_path, "init")
    assert _counts(init) == {("insert", 3): 75}
    assert sorted(r["id"] for r in init.select("id").collect()) == sorted(
        r["id"] for r in read_snapshot(spark, base).select("id").collect()
    )


def test_history_expiry_is_loud_for_caught_up_consumers(spark, tmp_path):
    base = _mk(spark, tmp_path)
    write_snapshot(_df(spark, 150, 160), base, mode="append")  # v3
    vacuum(base, keep_last=1)  # only v3 retained
    with pytest.raises(ValueError, match="history expired"):
        C.changes_between(spark, base, after_version=2)
    # the streaming face surfaces the same boundary
    assert C.register_snapshot_cdf(spark)
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", base)
        .option("startingversion", "3")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_expired")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="history expired"):
        q.awaitTermination(300)


def test_hive_partitioned_snapshot_streams_partition_columns(
    spark, tmp_path, assert_feed_replays
):
    base = str(tmp_path / "tbl")
    write_snapshot(
        _df(spark, 0, 40),
        base,
        mode="overwrite",
        partition_by=("grp",),
    )
    stream = _stream_all(spark, base, tmp_path, "hive")
    _assert_parity(spark, C.changes_between(spark, base), stream)
    assert_feed_replays(base, stream)
    # the path-encoded column really came back typed and valued
    assert stream.filter(F.col("grp") == 3).count() == read_snapshot(
        spark, base
    ).filter(F.col("grp") == 3).count()


def test_schema_drift_nulls_in_old_versions(
    spark, tmp_path, assert_feed_replays
):
    base = str(tmp_path / "tbl")
    write_snapshot(spark.range(10).select("id"), base, mode="overwrite")
    write_snapshot(
        spark.range(10, 15).select("id", F.lit("x").alias("tag")),
        base,
        mode="append",
    )
    stream = _stream_all(spark, base, tmp_path, "drift")
    _assert_parity(spark, C.changes_between(spark, base), stream)
    assert_feed_replays(base, stream)
    assert stream.filter(F.col("tag").isNull()).count() == 10


def _narrowing_append(spark, tmp_path):
    """v1 overwrites (id, a, b); v2 appends the narrower (id, a)."""
    base = str(tmp_path / "narrow")
    write_snapshot(
        spark.createDataFrame(
            [(1, "x", 1.5), (2, "y", 2.5)], "id long, a string, b double"
        ),
        base,
        mode="overwrite",
    )
    write_snapshot(
        spark.createDataFrame([(3, "z")], "id long, a string"),
        base,
        mode="append",
    )
    return base


def test_narrower_append_keeps_columns_on_both_faces(
    spark, tmp_path, assert_feed_replays
):
    """Both faces speak the table's read schema: a narrower append
    (the head manifest's WRITTEN schema lacks ``b``) must not drop
    ``b`` from the feed — the appended row carries it as null."""
    base = _narrowing_append(spark, tmp_path)
    batch = C.changes_between(spark, base)
    assert batch.columns == ["id", "a", "b", "change_type", "version"]
    assert batch.filter(F.col("version") == 2).collect() == [
        (3, "z", None, "insert", 2)
    ]
    stream = _stream_all(spark, base, tmp_path, "narrow")
    _assert_parity(spark, batch, stream)
    assert_feed_replays(base, stream)


def test_replica_keeps_columns_after_narrower_append(spark, tmp_path):
    src = _narrowing_append(spark, tmp_path)
    dst = str(tmp_path / "replica")
    C.replicate_snapshot(
        spark, src, dst, str(tmp_path / "ck_narrow"), key_cols=["id"]
    )
    got = read_snapshot(spark, dst)
    assert sorted(got.columns) == ["a", "b", "id"]
    assert sorted(tuple(r) for r in got.select("id", "a", "b").collect()) == [
        (1, "x", 1.5),
        (2, "y", 2.5),
        (3, "z", None),
    ]


def _strip_read_schema(base):
    """Rewrite every manifest as a writer from before ``read_schema``
    existed left it: written schema only."""
    for v in snapshot_versions(base):
        path = _manifest_path(base, v)
        with open(path) as f:
            m = json.load(f)
        m.pop("read_schema", None)
        with open(path, "w") as f:
            json.dump(m, f)


def test_narrower_append_without_read_schema_keeps_columns(
    spark, tmp_path, assert_feed_replays
):
    """Legacy manifests record only each commit's WRITTEN schema; both
    faces union them back to the overwrite, as mergeSchema would, so
    ``b`` survives the narrower append there too."""
    base = _narrowing_append(spark, tmp_path)
    _strip_read_schema(base)
    batch = C.changes_between(spark, base)
    assert batch.columns == ["id", "a", "b", "change_type", "version"]
    assert batch.filter(F.col("version") == 2).collect() == [
        (3, "z", None, "insert", 2)
    ]
    stream = _stream_all(spark, base, tmp_path, "legacy")
    _assert_parity(spark, batch, stream)
    assert_feed_replays(base, stream)


def test_legacy_chain_cut_by_vacuum_reads_columns_from_data(spark, tmp_path):
    """When vacuum removed the legacy chain's overwrite, manifests no
    longer name every column; the batch face asks mergeSchema."""
    base = _narrowing_append(spark, tmp_path)
    write_snapshot(
        spark.createDataFrame([(4, "w")], "id long, a string"),
        base,
        mode="append",
    )
    _strip_read_schema(base)
    vacuum(base, keep_last=1)
    feed = C.changes_between(spark, base)
    assert feed.columns == ["id", "a", "b", "change_type", "version"]
    assert sorted(tuple(r) for r in feed.select("id", "b").collect()) == [
        (1, 1.5),
        (2, 2.5),
        (3, None),
        (4, None),
    ]


def test_stream_source_payload_does_not_reach_read_snapshot(monkeypatch):
    """The streaming source ships to Python workers pickled by value; a
    wrapper around ``read_snapshot`` (as a tracer installs) must not
    ride along, or the workers fail to import the wrapper's module."""
    import pickle

    from pyspark import cloudpickle

    class _Unshippable:
        def __reduce__(self):
            raise pickle.PicklingError("read_snapshot reached the payload")

    monkeypatch.setattr(C, "read_snapshot", _Unshippable())
    C._ensure_pickle_by_value()
    cloudpickle.dumps(C.SnapshotCDFDataSource)


def test_type_drift_without_read_schema_fails_like_read_snapshot(
    spark, tmp_path
):
    base = str(tmp_path / "drift")
    write_snapshot(
        spark.createDataFrame([(1, "x")], "id long, a string"),
        base,
        mode="overwrite",
    )
    write_snapshot(
        spark.createDataFrame([(2, 7)], "id long, a int"),
        base,
        mode="append",
    )
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        read_snapshot(spark, base).limit(0).schema
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        C.changes_between(spark, base)


# ---------------------------------------------------------------------------
# the contract that matters: applying the feed reconstructs the table
# ---------------------------------------------------------------------------


def test_apply_feed_reconstructs_head(spark, tmp_path):
    base = _mk(spark, tmp_path)
    delete_where(spark, base, "id % 3 = 0")  # v3
    write_snapshot(_df(spark, 500, 530), base, mode="overwrite")  # v4
    write_snapshot(_df(spark, 600, 610), base, mode="append")  # v5
    feed = C.changes_between(spark, base).collect()
    state: dict[int, tuple] = {}
    # per version: deletes apply before inserts (a restatement's
    # delete side clears the way for its insert side)
    by_version: dict[int, list] = {}
    for row in feed:
        by_version.setdefault(row["version"], []).append(row)
    for v in sorted(by_version):
        for row in by_version[v]:
            if row["change_type"] == "delete":
                state.pop(row["id"], None)
        for row in by_version[v]:
            if row["change_type"] == "insert":
                state[row["id"]] = (row["grp"], row["name"])
    head = {
        r["id"]: (r["grp"], r["name"])
        for r in read_snapshot(spark, base).collect()
    }
    assert state == head


# ---------------------------------------------------------------------------
# the reference handoff: downstream pipeline tails the table
# ---------------------------------------------------------------------------


def test_cdf_to_snapshot_sink_handoff(spark, tmp_path):
    """The Kafka→Spark handoff restated natively (ref:
    dags/kafka_stream.py:87-92 recovered): a downstream snapshot table
    tails the upstream one through the CDF source + the exactly-once
    batch sink, and converges to the upstream insert feed."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        snapshot_batch_sink,
    )

    base = _mk(spark, tmp_path)
    assert C.register_snapshot_cdf(spark)
    down = str(tmp_path / "down")
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", base)
        .load()
        .filter(F.col("change_type") == "insert")
        .writeStream.foreachBatch(snapshot_batch_sink(down))
        .option("checkpointLocation", str(tmp_path / "ck_down"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = read_snapshot(spark, down)
    assert got.count() == 150
    assert got.filter(F.col("version") == 2).count() == 50


def test_yaml_pipeline_snapshot_cdf_source(spark, tmp_path):
    """The self-service face of the feed: a YAML pipeline whose SOURCE
    is the change feed of a snapshot table — an incremental consumer
    that publishes only what changed after the version it last saw."""
    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )

    base = _mk(spark, tmp_path)  # v1: 100 inserts, v2: 50 inserts
    delete_where(spark, base, "id % 10 = 0")  # v3: 15 deletes
    out = str(tmp_path / "published")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "cdf_consumer"},
            "source": {
                "type": "snapshot_cdf",
                "path": base,
                "after_version": 1,
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
    got = spark.read.parquet(result.published_path)
    assert _counts(got) == {("insert", 2): 50, ("delete", 3): 15}


def test_continuous_run_tails_new_versions(spark, tmp_path):
    """A continuous (processingTime) run picks up versions committed
    WHILE it runs, each exactly once; offsets are purely log-driven
    (the stateless-latestOffset contract that survives reader reuse
    across query starts)."""
    import time

    base = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 50), base, mode="overwrite")  # v1
    assert C.register_snapshot_cdf(spark)
    batches: list[set[int]] = []

    def _sink(df, batch_id):
        vs = {r["version"] for r in df.select("version").distinct().collect()}
        if vs:
            batches.append(vs)

    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", base)
        .load()
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not batches:
            time.sleep(1)
        assert batches and batches[0] == {1}
        for lo in (100, 200):  # v2, v3 while the stream runs
            write_snapshot(_df(spark, lo, lo + 10), base, mode="append")
            time.sleep(2)
        deadline = time.time() + 120
        while time.time() < deadline:
            if {v for b in batches for v in b} == {1, 2, 3}:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert {v for b in batches for v in b} == {1, 2, 3}
    # exactly once: no version appears in two batches
    seen = [v for b in batches for v in b]
    assert len(seen) == len(set(seen))


def test_maxversionsperbatch_is_a_loud_non_feature(spark, tmp_path):
    """Per-batch admission control cannot be exactly-once through the
    Python source API (review r11: a capped cold offset regressed
    below the checkpoint and double-emitted; a warm cap under
    availableNow's single-batch fallback stranded versions) — asking
    for it must fail LOUDLY, never silently mis-deliver."""
    base = _mk(spark, tmp_path)
    assert C.register_snapshot_cdf(spark)
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", base)
        .option("maxversionsperbatch", "1")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_capped")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="maxversionsperbatch"):
        q.awaitTermination(300)


def test_delete_vectors_on_partitioned_table_keep_partition_columns(
    spark, tmp_path, assert_feed_replays
):
    """delete_where works on hive-partitioned snapshots (the layout is
    overwrite-only, deletes are vectors) — the feed's delete rows must
    carry the path-encoded partition column VALUED, on both faces."""
    base = str(tmp_path / "tbl")
    write_snapshot(
        _df(spark, 0, 60), base, mode="overwrite", partition_by=("grp",)
    )
    delete_where(spark, base, "grp = 3")
    batch = C.changes_between(spark, base, after_version=1)
    stream = _stream_all(spark, base, tmp_path, "pvec", startingversion="2")
    _assert_parity(spark, batch, stream)
    assert_feed_replays(base, stream, after_version=1)
    rows = stream.collect()
    assert rows and all(
        r["change_type"] == "delete" and r["grp"] == 3 for r in rows
    )


def test_dropped_column_speaks_head_schema_on_both_faces(
    spark, tmp_path, assert_feed_replays
):
    """A later overwrite that DROPS a column must not resurrect it in
    old versions' feed rows — the feed speaks the table's CURRENT
    schema (Delta CDF semantics), identically on both faces."""
    base = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(10).select("id", F.lit("gone").alias("tmp")),
        base,
        mode="overwrite",
    )
    write_snapshot(
        spark.range(20, 25).select("id"), base, mode="overwrite"
    )
    batch = C.changes_between(spark, base)
    assert set(batch.columns) == {"id", "change_type", "version"}
    stream = _stream_all(spark, base, tmp_path, "drop")
    _assert_parity(spark, batch, stream)
    assert_feed_replays(base, stream)


def test_replicate_snapshot_converges_through_all_change_kinds(
    spark, tmp_path
):
    """The apply side of CDC: a downstream replica tails the upstream
    feed through appends, row-level deletes, a silent maintenance
    compaction, a full restatement, and more appends — and converges
    to the upstream head exactly, resumably, with replay protection."""
    src = _mk(spark, tmp_path)  # v1, v2
    delete_where(spark, src, "id % 4 = 0")  # v3
    dst, ck = str(tmp_path / "replica"), str(tmp_path / "ck_rep")

    def _rows(base):
        return sorted(
            tuple(r)
            for r in read_snapshot(spark, base)
            .select("id", "grp", "name")
            .collect()
        )

    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(dst) == _rows(src)
    # more history: maintenance (silent), restatement, append
    compact_snapshot(spark, src)  # v4
    write_snapshot(_df(spark, 500, 520), src, mode="overwrite")  # v5
    write_snapshot(_df(spark, 600, 605), src, mode="append")  # v6
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert _rows(dst) == _rows(src)
    # replay protection: no new versions → the replica does not commit
    head = snapshot_versions(dst)[-1]
    C.replicate_snapshot(spark, src, dst, ck, key_cols=["id"])
    assert snapshot_versions(dst)[-1] == head


def test_replica_resync_with_fresh_checkpoint_drops_stale_rows(
    spark, tmp_path
):
    """A replica re-synced with a FRESH checkpoint after upstream
    history expired must restate from the initial snapshot — stale
    replica rows the expired window deleted upstream must not survive
    the keyed fold."""
    src = _mk(spark, tmp_path)  # v1, v2: 150 rows
    dst = str(tmp_path / "replica")
    C.replicate_snapshot(
        spark, src, dst, str(tmp_path / "ck1"), key_cols=["id"]
    )
    assert read_snapshot(spark, dst).count() == 150
    # upstream deletes + history expiry while the replica is offline
    delete_where(spark, src, "id < 50")  # v3
    vacuum(src, keep_last=1)
    # old checkpoint: caught-up-consumer expiry is LOUD
    with pytest.raises(Exception, match="history expired"):
        C.replicate_snapshot(
            spark, src, dst, str(tmp_path / "ck1"), key_cols=["id"]
        )
    # fresh checkpoint: full re-sync — the 50 dead rows disappear
    C.replicate_snapshot(
        spark, src, dst, str(tmp_path / "ck2"), key_cols=["id"]
    )
    got = read_snapshot(spark, dst)
    assert got.count() == 100 and got.filter("id < 50").count() == 0
