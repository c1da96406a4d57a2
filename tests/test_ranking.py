"""Distributed ranking primitives: exactness vs the global-window form and
plan pins proving no single-partition sort exists in the sharded paths."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_engineering_etl_self_service_spark.catalog import load_table
from data_engineering_etl_self_service_spark.operators.ranking import (
    _key_gaps_plan,
    distributed_rank,
    ntile_bucket,
    sharded_key_gaps,
)


def _plan_of(df):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jmode)


def test_distributed_rank_matches_global_window(spark, sf_dir):
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked, n, h = distributed_rank(
        base, [F.col("c_acctbal"), F.col("c_custkey")], "rnk", num_shards=8
    )
    got = {r["c_custkey"]: r["rnk"] for r in ranked.collect()}
    want = {
        r["c_custkey"]: r["rnk"]
        for r in base.withColumn(
            "rnk", F.row_number().over(W.orderBy("c_acctbal", "c_custkey"))
        ).collect()
    }
    h.unpersist()
    assert n == len(want)
    assert got == want


def test_ntile_bucket_matches_window_ntile(spark, sf_dir):
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked, n, h = distributed_rank(
        base, [F.col("c_acctbal"), F.col("c_custkey")], "rnk", num_shards=8
    )
    for k in (3, 5, 7):
        got = {
            r["c_custkey"]: r["b"]
            for r in ranked.withColumn(
                "b", ntile_bucket(F.col("rnk"), n, k)
            ).collect()
        }
        want = {
            r["c_custkey"]: r["b"]
            for r in base.withColumn(
                "b", F.ntile(k).over(W.orderBy("c_acctbal", "c_custkey"))
            ).collect()
        }
        assert got == want, f"ntile({k}) mismatch"
    h.unpersist()


def test_ntile_bucket_fewer_rows_than_buckets(spark, sf_dir):
    df = spark.range(3).select(F.col("id").alias("v"))
    ranked, n, h = distributed_rank(df, [F.col("v")], "rnk", num_shards=4)
    got = sorted(
        (r["v"], r["b"])
        for r in ranked.withColumn("b", ntile_bucket(F.col("rnk"), n, 5)).collect()
    )
    h.unpersist()
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_distributed_rank_plan_has_no_single_partition(spark, sf_dir):
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked, _, h = distributed_rank(
        base, [F.col("c_acctbal"), F.col("c_custkey")], "rnk", num_shards=8
    )
    plan = _plan_of(ranked)
    h.unpersist()
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(__shard" in plan, plan


def test_sharded_key_gaps_matches_global_lead(spark, sf_dir):
    # exclude ~1/3 of keys so the keyspace actually has holes
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "P")
        .select(F.col("o_orderkey").alias("key"))
    )
    got = sorted(tuple(r) for r in sharded_key_gaps(o, "key", 8).collect())
    k = o.select("key", F.lead("key").over(W.orderBy("key")).alias("nxt"))
    want = sorted(
        tuple(r)
        for r in k.filter(F.col("nxt") - F.col("key") > 1)
        .select(
            (F.col("key") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("key") - 1).cast("bigint").alias("n_missing"),
        )
        .collect()
    )
    assert got == want
    assert len(got) > 0  # orders keys are sparse; the audit must see gaps


def test_sharded_key_gaps_plan_has_no_single_partition(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key")
    )
    gaps, keyed = _key_gaps_plan(o, "key", 8)
    plan = _plan_of(gaps)
    keyed.unpersist()
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(__shard" in plan, plan


def _random_deltas(spark, n=5000, seed=11):
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(100), i, rng.choice([-1, 1]), rng.randrange(50))
        for i in range(n)
    ]
    # duplicate keys on purpose: (k, i) is the total order, k alone ties
    return spark.createDataFrame(rows, "k long, i long, delta int, v long")


def test_sharded_running_sum_equals_global_window(spark):
    from data_engineering_etl_self_service_spark.operators.ranking import (
        sharded_running_agg,
    )

    df = _random_deltas(spark)
    out, h = sharded_running_agg(
        df, ["k", "i"], "delta", agg="sum", out_col="run", num_shards=8
    )
    got = {(r.k, r.i): r.run for r in out.collect()}
    h.unpersist()
    w = W.orderBy("k", "i").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        (r.k, r.i): r.run
        for r in df.select(
            "k", "i", F.sum("delta").over(w).cast("long").alias("run")
        ).collect()
    }
    assert got == want


def test_sharded_running_max_exclusive_equals_global_window(spark):
    from data_engineering_etl_self_service_spark.operators.ranking import (
        sharded_running_agg,
    )

    df = _random_deltas(spark, n=3000, seed=5)
    out, h = sharded_running_agg(
        df,
        ["k", "i"],
        "v",
        agg="max",
        out_col="pre",
        num_shards=8,
        inclusive=False,
    )
    got = {(r.k, r.i): r.pre for r in out.collect()}
    h.unpersist()
    w = W.orderBy("k", "i").rowsBetween(W.unboundedPreceding, -1)
    want = {
        (r.k, r.i): r.pre
        for r in df.select(
            "k", "i", F.max("v").over(w).cast("long").alias("pre")
        ).collect()
    }
    assert got == want
    assert any(v is None for v in want.values())  # global first row


def test_sharded_running_agg_plan_has_no_single_partition(spark):
    from data_engineering_etl_self_service_spark.operators.ranking import (
        sharded_running_agg,
    )

    df = _random_deltas(spark, n=1000)
    out, h = sharded_running_agg(
        df, ["k", "i"], "delta", agg="sum", out_col="run", num_shards=8
    )
    plan = _plan_of(out)
    h.unpersist()
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(__shard" in plan, plan


def test_rfm_driver_tier_matches_distributed_rank(spark, sf_dir, monkeypatch):
    """opt r13: rfm_scores' driver tier (Python NTILE over the
    collected per-customer base) must produce exactly the
    distributed_rank/ntile_bucket path's segment rows."""
    from data_engineering_etl_self_service_spark import runtime
    from data_engineering_etl_self_service_spark.queries import QUERIES

    def run():
        return sorted(
            tuple(r) for r in QUERIES["rfm_scores"](spark, sf_dir).collect()
        )

    drv = run()  # default budget: driver tier at fixture scale
    monkeypatch.setattr(runtime, "DRIVER_TIER_ROWS", 0)  # force distributed
    dist = run()
    assert drv == dist
    assert len(drv) > 0
