from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_engineering_etl_self_service_spark import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


def _assert_feed_replays(spark, base, feed, after_version=0, to_version=None):
    """Check an unkeyed change feed against time travel, independently
    of how the feed was derived. For every committed version v in
    ``(after_version, to_version]``, as multisets of rows aligned by
    name to the feed's table columns (a column a version lacks reads
    as null): ``deletes_v`` ⊆ ``read_snapshot(v-1)`` and
    ``read_snapshot(v-1) − deletes_v + inserts_v == read_snapshot(v)``;
    a version with no retained parent (the table's first, or the
    earliest after vacuum) must insert exactly ``read_snapshot(v)``."""
    from collections import Counter

    from pyspark.sql import functions as F

    from data_engineering_etl_self_service_spark.sources.cdf import (
        CHANGE_COL,
        VERSION_COL,
    )
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )

    cols = [c for c in feed.columns if c not in (CHANGE_COL, VERSION_COL)]

    def _state(v):
        df = read_snapshot(spark, base, v)
        return Counter(
            tuple(r)
            for r in df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).alias(c)
                    for c in cols
                ]
            ).collect()
        )

    committed = snapshot_versions(base)
    hi = committed[-1] if to_version is None else to_version
    versions = [v for v in committed if after_version < v <= hi]
    changes = {v: {"insert": Counter(), "delete": Counter()} for v in versions}
    for r in feed.select(*cols, CHANGE_COL, VERSION_COL).collect():
        assert r[VERSION_COL] in changes, f"feed row outside range: {r}"
        changes[r[VERSION_COL]][r[CHANGE_COL]][tuple(r)[: len(cols)]] += 1
    for v in versions:
        ins, dels = changes[v]["insert"], changes[v]["delete"]
        state = _state(v)
        if v - 1 not in committed:
            assert not dels and ins == state, f"v{v}: initial snapshot"
            continue
        prev = _state(v - 1)
        assert not dels - prev, f"v{v}: deletes rows v{v - 1} lacks"
        assert prev - dels + ins == state, f"v{v}: replay != time travel"


@pytest.fixture
def assert_feed_replays(spark):
    """:func:`_assert_feed_replays` bound to the session."""
    return lambda *a, **kw: _assert_feed_replays(spark, *a, **kw)
