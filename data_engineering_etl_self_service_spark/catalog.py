"""Table catalog over the driver-provided parquet lake.

The reference's "catalog" is a filesystem convention — date-partitioned S3
prefixes (ref: configs/sources/marketing_api_campaigns.yaml:25,
operators/api_to_s3.py:68-73). Here the lake is a directory of parquet
files; reads are schema-on-read columnar scans so Catalyst gets predicate
pushdown + column pruning for free.

At 100 TB each table would be a partitioned (and for the big fact tables,
bucketed) parquet/iceberg dataset; ``load_table`` stays the single
entry-point so that swap is one line.

Schema cache. Without a schema, ``spark.read.parquet`` runs one
schema-inference job (``mergeSchemasInParallel``) per call, even for a
single file. :func:`read_parquet_cached` — behind both ``load_table`` and
``sources.files.read_parquet`` — keeps each path's inferred ``StructType``
for the Spark application and hands it to the reader on a hit; Spark
still lists the files on every call, only the inference job is gone. The key is (``applicationId``, local path, stat fingerprint, the
session confs that change what Spark infers from parquet footers). The
fingerprint is ``(size, mtime_ns, ino)`` of a file, or the sorted
``(relpath, size, mtime_ns)`` of every file under a directory, so a table
rewritten in place is re-inferred. Globs, missing paths, relative paths,
non-``file:`` URIs (``s3a://``, ``hdfs://``, …) and Hive-style
``key=value`` directories (whose partition columns depend on more session
state) bypass the cache and infer every call. Only schemas are cached,
never DataFrames: a reused frame would share attribute ids across a
self-join and keep a stale file index. There is no knob — with a correct
key the cache is unobservable except in speed.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should be broadcast in joins at any scale.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


#: Session confs that change the schema Spark infers from parquet footers
#: (the ``ParquetToSparkSchemaConverter`` inputs, plus which footers are
#: read). ``nanosAsLong`` is not here: every read sets it to true.
_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
)

#: local path -> (key, inferred schema); one entry per path, only entries
#: of the current Spark application, at most ``_MAX_SCHEMAS`` (oldest go
#: first). Writers hold ``_LOCK``; a lookup is one atomic ``dict.get``.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
_MAX_SCHEMAS = 1024
_LOCK = threading.Lock()


def _fingerprint(path: str) -> tuple | None:
    """Stat fingerprint of a local parquet file or directory; None when
    the path is missing (or vanishes mid-walk) or is a Hive-style
    partitioned directory."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns, st.st_ino)
        files = []
        for root, dirs, names in os.walk(path):
            if any("=" in d for d in dirs):
                return None
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The schema-cache key of ``path``, or None when it bypasses the
    cache: a glob, a non-``file:`` URI, a relative path (the JVM resolves
    it against its own working directory), a missing path or a
    partitioned dir."""
    if any(c in path for c in "*?[]{}\\"):
        return None
    url = urlsplit(path)
    if url.scheme not in ("", "file") or url.netloc or not os.path.isabs(url.path):
        return None
    local = os.path.normpath(url.path)
    fp = _fingerprint(local)
    if fp is None:
        return None
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    return (spark.sparkContext.applicationId, local, fp, confs)


def read_parquet_cached(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, inferring the schema
    only on a cache miss (see the module docstring for the contract).

    Nanosecond-timestamp parquet (INT64 TIMESTAMP(NANOS)) is illegal for
    Spark's reader by default; it is read as raw long nanos
    (``nanosAsLong``) and each caller converts. The returned schema may be
    the cached object: read it, never mutate it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _schema_key(spark, path)
    hit = _SCHEMAS.get(key[1]) if key is not None else None
    cached = hit[1] if hit is not None and hit[0] == key else None
    # load(path: str) hands the path to the JVM as is; .parquet() builds a
    # one-element Seq over py4j, ~1.5 ms more per call
    df = spark.read.load(path, format="parquet", schema=cached)
    if cached is not None:
        return df, cached
    schema = df.schema
    if key is not None:
        with _LOCK:
            if any(k[0] != key[0] for k, _ in _SCHEMAS.values()):
                _SCHEMAS.clear()  # a new application: earlier entries are dead
            _SCHEMAS.pop(key[1], None)
            if len(_SCHEMAS) >= _MAX_SCHEMAS:
                del _SCHEMAS[next(iter(_SCHEMAS))]
            _SCHEMAS[key[1]] = (key, schema)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table as a DataFrame (columnar parquet scan).

    ``events.ts`` arrives as raw nanos (INT64 TIMESTAMP(NANOS) under
    ``nanosAsLong``) or as µs TIMESTAMP_NTZ, depending on the writer; both
    become session-UTC TIMESTAMP. Nanos convert with INTEGER division —
    ns values ~1.7e18 exceed double's exact range, so ``div``/``floor`` on
    longs is the only drift-free conversion (and matches DuckDB's own
    ns→µs truncation).
    """
    df, schema = read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and "ts" in schema.names:
        ts_type = schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            # µs-precision parquet with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ under inferTimestampNTZ (Spark 3.4+ default).
            # The session zone is pinned to UTC, so this cast re-labels the
            # same instant as TIMESTAMP (LTZ) without shifting the value —
            # matching DuckDB, which reads the file as naive TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so the SQL API works too."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
