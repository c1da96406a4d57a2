"""Driver-contract smoke: entry() returns rows; registry is well-formed."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_oracle_has_a_query():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 35


def test_queries_run_at_sf0001(spark):
    q = entrymod.queries()
    for name, fn in q.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name


def test_duplicate_query_registration_fails_fast():
    """register() must raise on a name collision instead of silently
    shadowing an existing query (a live round-3 bug class)."""
    import pytest

    from data_engineering_etl_self_service_spark.queries import register

    with pytest.raises(AssertionError, match="duplicate query registration"):
        @register("pricing_summary")
        def pricing_summary(spark, sf_dir):  # pragma: no cover
            return None


def test_registry_hygiene():
    """Registry-wide invariants that have each caught a real bug class:
    every query documented, oracle coverage complete except the four
    deliberate rows-only operators, and rotation lists containing only
    real query names (a typo there silently breaks the driver-check
    ordering)."""
    from data_engineering_etl_self_service_spark.queries import (
        ORACLES,
        QUERIES,
        _FRESH_FIRST,
        _RECHECK,
        _ROUND3_NEW,
        _ROUND4_NEW,
    )

    rows_only = {
        "approx_tier", "hll_sketch_union", "knn_join_fast",
        "simhash_neardup",
        # round 9: bloom skip decisions are xxh64 hash math DuckDB
        # cannot restate — invariants pytest-pinned instead
        "bloom_point_lookup",
    }
    assert set(QUERIES) - set(ORACLES) == rows_only
    for name, fn in QUERIES.items():
        assert fn.__doc__, f"{name} has no docstring"
    for lst in (_FRESH_FIRST, _RECHECK, _ROUND3_NEW, _ROUND4_NEW):
        for n in lst:
            assert n in QUERIES, f"rotation list references unknown query {n}"


def test_session_defaults_let_aqe_size_cached_plans(spark, tmp_path):
    """``ensure_session_defaults`` turns cached-plan sizing on in a
    session that had it off: a persisted aggregate then writes one file
    at test scale instead of one per shuffle partition."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_etl_self_service_spark.session import (
        ensure_session_defaults,
    )

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

    def files_of_persisted_write(name, mod):
        df = (
            spark.range(4000)
            .groupBy((F.col("id") % mod).alias("k"))
            .count()
            .persist()
        )
        try:
            df.write.parquet(str(tmp_path / name))
        finally:
            df.unpersist()
        return [
            f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")
        ]

    spark.conf.set(key, "false")
    try:
        assert len(files_of_persisted_write("off", 1000)) > 1
        ensure_session_defaults(spark)
        assert spark.conf.get(key) == "true"
        assert len(files_of_persisted_write("on", 1001)) == 1
    finally:
        spark.conf.set(key, "true")
