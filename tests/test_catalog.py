"""The catalog's per-application parquet schema cache: a repeat read runs
no inference job, a rewritten table is re-inferred, globs and remote URIs
bypass it, its key follows the session confs and the application, and a
read leaves no session state behind."""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext

from data_engineering_etl_self_service_spark import catalog
from data_engineering_etl_self_service_spark.catalog import load_table, read_parquet_cached
from data_engineering_etl_self_service_spark.sources.files import read_parquet


def _with_jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"test_catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_second_load_runs_no_job_and_same_rows(spark, tmp_path):
    _write(tmp_path / "orders.parquet", o_orderkey=[3, 1, 2], o_comment=["c", "a", "b"])
    first, jobs1 = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders").collect())
    second, jobs2 = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders").collect())
    df, jobs_build = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert jobs1 >= 2  # inference + the collect
    assert jobs2 == jobs1 - 1
    assert jobs_build == 0
    assert sorted(second) == sorted(first)
    assert df.columns == ["o_orderkey", "o_comment"]


def test_lake_events_reload_hits_and_keeps_ts_conversion(spark, sf_dir):
    load_table(spark, sf_dir, "events")
    df, jobs = _with_jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_rewrite_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, a=[1, 2])
    assert [r.a for r in load_table(spark, str(tmp_path), "t").collect()] == [1, 2]
    _write(path, b=["x", "y", "z"], c=[1.5, 2.5, 3.5])
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(r.b for r in df.collect()) == ["x", "y", "z"]


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1,)], "a int").write.parquet(path)
    assert read_parquet(spark, path).columns == ["a"]
    spark.createDataFrame([("u", 7)], "b string, c long").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("b", "string"), ("c", "bigint")]
    assert [tuple(r) for r in df.collect()] == [("u", 7)]


def test_globs_remote_uris_and_relative_paths_bypass(spark, tmp_path):
    _write(tmp_path / "g1.parquet", a=[1])
    _write(tmp_path / "g2.parquet", a=[2])
    glob = str(tmp_path / "g*.parquet")
    for p in (glob, "s3a://bucket/lake/orders.parquet", "hdfs://nn:8020/lake/orders.parquet",
              "file://host/lake/orders.parquet", "lake/orders.parquet",
              str(tmp_path / "missing.parquet")):
        assert catalog._schema_key(spark, p) is None, p
    for _ in range(2):
        df, jobs = _with_jobs(spark, lambda: read_parquet(spark, glob))
        assert jobs == 1  # inferred on every call
        assert sorted(r.a for r in df.collect()) == [1, 2]
    assert glob not in catalog._SCHEMAS
    # a file: URI is the local path it names
    local = str(tmp_path / "g1.parquet")
    assert catalog._schema_key(spark, "file://" + local) == catalog._schema_key(spark, local)


def test_partitioned_directory_bypasses(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    spark.createDataFrame([(1, "x")], "a int, k string").write.partitionBy("k").parquet(path)
    assert catalog._schema_key(spark, path) is None
    assert read_parquet(spark, path).dtypes == [("a", "int"), ("k", "string")]


def test_key_follows_ntz_conf(spark, tmp_path):
    path = str(tmp_path / "ntz.parquet")
    _write(path, ts=pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("us")))
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        k_ntz, (_, s_ntz) = catalog._schema_key(spark, path), read_parquet_cached(spark, path)
        spark.conf.set(conf, "false")
        k_ltz, (_, s_ltz) = catalog._schema_key(spark, path), read_parquet_cached(spark, path)
    finally:
        spark.conf.set(conf, before)
    assert k_ntz != k_ltz
    assert s_ntz["ts"].dataType.simpleString() == "timestamp_ntz"
    assert s_ltz["ts"].dataType.simpleString() == "timestamp"


def test_key_follows_application_and_drops_other_apps(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "app.parquet")
    _write(path, a=[1])
    read_parquet_cached(spark, path)
    key = catalog._schema_key(spark, path)
    assert key[0] == spark.sparkContext.applicationId
    assert catalog._SCHEMAS[key[1]][0] == key
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "app-other"))
    other = catalog._schema_key(spark, path)
    assert other != key and other[1:] == key[1:]
    _, jobs = _with_jobs(spark, lambda: read_parquet_cached(spark, path))
    assert jobs == 1  # a new application infers again
    assert {k[0] for k, _ in catalog._SCHEMAS.values()} == {"app-other"}
    monkeypatch.undo()
    read_parquet_cached(spark, path)
    assert {k[0] for k, _ in catalog._SCHEMAS.values()} == {spark.sparkContext.applicationId}


def test_cache_is_bounded_oldest_first(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_MAX_SCHEMAS", 2)
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    paths = [str(tmp_path / f"b{i}.parquet") for i in range(3)]
    for p in paths:
        _write(p, a=[1])
        read_parquet_cached(spark, p)
    assert list(catalog._SCHEMAS) == paths[1:]


def _session_state(spark) -> int:
    """CacheManager entries plus persistent RDDs of the session."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")  # no public count
    field.setAccessible(True)
    return field.get(cm).size() + spark.sparkContext._jsc.getPersistentRDDs().size()


def test_load_leaves_no_session_state(spark, sf_dir):
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    for _ in range(2):
        for name in ("region", "events"):
            load_table(spark, sf_dir, name).collect()
    assert _session_state(spark) == 0
