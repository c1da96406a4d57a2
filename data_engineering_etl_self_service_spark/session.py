"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM); the configuration is chosen so
the same code is correct and fast on a real multi-executor cluster at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB the static plan is always wrong somewhere.
- AQE also sizes cached plans
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``). Spark
  plans a persisted frame with AQE's final-stage optimizations off unless
  this is set, so a frame that ends in a shuffle keeps every
  ``shuffle.partitions`` partition: each write from it runs one task and
  commits one file per partition. The lake paths that persist a frame and
  write from it twice (the rows-mode pipeline, the delta merge) rely on it.
  A user ``repartition(n)`` is never coalesced, so explicit layouts hold.
- ``spark.sql.shuffle.partitions`` is a fixed 32 by default (override with
  ``shuffle_partitions`` or ``$SPARK_SHUFFLE_PARTITIONS``); AQE coalesces
  it down at run time, and on a cluster splits skewed partitions up.
- UTC session timezone so timestamp semantics match the (UTC-naive) oracle.
- Arrow enabled for the pandas-UDF slow path.

The reference has no Spark session at all — its execution is single-process
pandas inside an Airflow worker (ref: operators/data_quality_operator.py:69,
docker-compose.yml:55 LocalExecutor).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP = "data-engineering-etl-self-service-spark"
_CACHED_PLAN_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def get_spark(
    app_name: str = DEFAULT_APP,
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*")
    n_shuffle = int(
        shuffle_partitions
        or os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        or 32
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(_CACHED_PLAN_AQE, "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-provided session.

    The driver harness owns its own SparkSession; these are the settings we
    depend on for oracle comparability (UTC timestamps) and local speed,
    including AQE-sized cached plans (see the module docstring). Only
    runtime-mutable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(_CACHED_PLAN_AQE, "true")
    return spark
