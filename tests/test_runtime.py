"""Lineage-truncation policy (round 12 — VERDICT r11 advisory #2):
every iterative operator materializes through
``runtime.truncate_lineage``, which defaults to ``localCheckpoint``
(query-retry contract) and swaps to reliable ``checkpoint()`` against a
configured directory when
``spark.data_engineering_etl.checkpoint.reliable`` is true — the
cluster posture where an executor loss mid-iteration must cost a
re-read, not the job. Both modes must produce identical results on the
iterative queries the directive names."""

from __future__ import annotations

import os

import pytest

from data_engineering_etl_self_service_spark import runtime
from data_engineering_etl_self_service_spark.queries import QUERIES
from data_engineering_etl_self_service_spark.runtime import (
    CHECKPOINT_DIR,
    RELIABLE_FLAG,
    collect_if_small,
    truncate_lineage,
)

SF = "/root/testdata/sf0.001"


def _reset(spark):
    spark.conf.set(RELIABLE_FLAG, "false")
    try:
        spark.conf.unset(CHECKPOINT_DIR)
    except Exception:
        pass


def test_reliable_flag_without_dir_is_loud(spark):
    """Must run before any test sets a checkpoint dir on the
    session-scoped SparkContext (setCheckpointDir is sticky)."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a checkpoint dir is already set on this session")
    spark.conf.set(RELIABLE_FLAG, "true")
    try:
        with pytest.raises(ValueError, match="checkpoint directory"):
            truncate_lineage(spark.range(3))
    finally:
        _reset(spark)


def test_default_mode_is_local_checkpoint(spark):
    _reset(spark)
    out = truncate_lineage(spark.range(5))
    assert out.count() == 5
    # lineage really truncated: the plan is a materialized scan now
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_reliable_checkpoint_parity_on_iterative_queries(spark, tmp_path):
    """The directive's done-criterion: neardup_groups + pagerank_nations
    produce identical results in both modes, and the reliable mode
    really writes to the configured fault-tolerant dir."""
    _reset(spark)

    def run(name):
        return sorted(
            tuple(r) for r in QUERIES[name](spark, SF).collect()
        )

    names = ("neardup_groups", "pagerank_nations")
    local = {n: run(n) for n in names}
    ckpt = str(tmp_path / "reliable_ckpt")
    spark.conf.set(RELIABLE_FLAG, "true")
    spark.conf.set(CHECKPOINT_DIR, ckpt)
    try:
        for n in names:
            assert run(n) == local[n], n
        # the reliable path really touched the configured dir
        assert os.path.isdir(ckpt) and any(os.scandir(ckpt))
    finally:
        _reset(spark)


def test_spread_scan_is_identity_at_scan_parallelism(spark):
    """The 100 TB contract: an input that already has >=
    defaultParallelism partitions passes through UNCHANGED (same object,
    so the codec-query plans stay zero-exchange at real scan
    parallelism — the posture test_codec_queries_* pins)."""
    from data_engineering_etl_self_service_spark.runtime import spread_scan

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n)
    assert spread_scan(df, "id") is df
    wide = spark.range(0, 1000, 1, n + 3)
    assert spread_scan(wide) is wide


def test_spread_scan_spreads_small_scans_deterministically(spark):
    """A 1-split input is raised to defaultParallelism partitions; the
    rows are unchanged, and the keyed form hash-partitions (deterministic
    placement under task retry — no rand-derived keys)."""
    from data_engineering_etl_self_service_spark.runtime import spread_scan

    df = spark.range(0, 97, 1, 1)
    out = spread_scan(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(97))
    # keyless (round-robin) form: same rows, same partition count
    out2 = spread_scan(df)
    assert out2.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out2.collect()) == list(range(97))


def _cache_entries(spark) -> int:
    """CacheManager entries of the session (no public count)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_collect_if_small_returns_rows_below_budget(spark):
    spark.catalog.clearCache()
    rows, frame = collect_if_small(spark.range(0, 20, 1, 3))
    assert frame is None
    assert sorted(r.id for r in rows) == list(range(20))
    assert _cache_entries(spark) == 0


def test_collect_if_small_hands_off_frame_above_budget(spark, monkeypatch):
    spark.catalog.clearCache()
    monkeypatch.setattr(runtime, "DRIVER_TIER_ROWS", 5)
    rows, frame = collect_if_small(spark.range(0, 20, 1, 3))
    assert rows is None
    assert _cache_entries(spark) == 0
    assert sorted(r.id for r in frame.collect()) == list(range(20))
    plan = frame._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan  # materialized


def test_collect_if_small_rejecting_fits_hands_off(spark):
    spark.catalog.clearCache()
    seen = []

    def fits(rows):
        seen.append(len(rows))
        return False

    rows, frame = collect_if_small(spark.range(0, 7, 1, 2), fits)
    assert rows is None and seen == [7]
    assert sorted(r.id for r in frame.collect()) == list(range(7))
    assert _cache_entries(spark) == 0


def test_collect_if_small_runs_upstream_once_above_budget(spark, monkeypatch):
    """The hand-off frame is checkpointed from the probe's persisted
    partitions: a Python UDF upstream of the probe runs once per row,
    not once for the probe and again for the distributed path."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    monkeypatch.setattr(runtime, "DRIVER_TIER_ROWS", 5)
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x * 2

    n = 50
    df = spark.range(0, n, 1, 4).select(counted("id").alias("y"))
    rows, frame = collect_if_small(df)
    assert rows is None
    assert sorted(r.y for r in frame.collect()) == [2 * i for i in range(n)]
    assert calls.value == n
    assert _cache_entries(spark) == 0


@pytest.mark.parametrize("budget", [None, 0], ids=["default", "budget0"])
@pytest.mark.parametrize(
    "name",
    [
        "rfm_scores",
        "kcore_parts",
        "trade_hops",
        "cheapest_trade_route",
        "minhash_lsh_dedup",
        "neardup_groups",
    ],
)
def test_driver_tier_queries_leave_no_cache_entries(
    spark, sf_dir, monkeypatch, name, budget
):
    """Every driver-tier site (and the LSH verify it feeds) releases its
    caches on both tiers: after collect() the CacheManager is empty, so
    repeated calls and any call order time and behave the same."""
    spark.catalog.clearCache()
    if budget is not None:
        monkeypatch.setattr(runtime, "DRIVER_TIER_ROWS", budget)
    assert QUERIES[name](spark, sf_dir).collect()
    assert _cache_entries(spark) == 0

