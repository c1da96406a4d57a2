"""File sources/sinks over the lake.

Re-expresses the reference's S3 landing-zone convention — one JSON blob per
run under ``raw/<source>/{{ ds }}/…`` (ref: operators/api_to_s3.py:67-73,
configs/sources/marketing_api_campaigns.yaml:25) — as partitioned columnar
parquet, which buys predicate pushdown, column pruning, and partition
pruning at 100 TB instead of opaque per-day JSON blobs.

Schemas are explicit ``StructType``s by default (inference is a convenience
path only) — the reference's everything-is-inferred posture (ref:
operators/data_quality_operator.py:69) is exactly what schema-contract
validation at ingestion replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

from ..catalog import read_parquet_cached


def read_parquet(
    spark: SparkSession, path: str, normalize_ntz: bool = True
) -> DataFrame:
    # INT64 TIMESTAMP(NANOS) arrives as long nanos and the schema comes
    # from the catalog's per-application cache — see catalog.load_table.
    df, schema = read_parquet_cached(spark, path)
    if normalize_ntz:
        # µs parquet written with isAdjustedToUTC=false reads back as
        # TIMESTAMP_NTZ, which time functions (unix_micros, watermarks)
        # reject. The engine pins the session zone to UTC, so casting
        # re-labels the same instant as TIMESTAMP without shifting it —
        # ingested tables behave uniformly regardless of writer quirks.
        for f in schema.fields:
            if isinstance(f.dataType, TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """CSV source (the reference's clickstream replay input,
    ref: dags/kafka_stream.py:61,68-69 recovered).

    Malformed-row policy (the reference would crash inside pandas):

    - ``mode="PERMISSIVE"`` (default) nulls unparseable fields; pass
      ``corrupt_col="_corrupt"`` to also capture the raw line per bad row
      so a DQ ``non_null`` check (or a quarantine filter) can count them.
    - ``mode="DROPMALFORMED"`` silently drops bad rows — only for ingest
      paths where a row-count DQ gate follows.
    - ``mode="FAILFAST"`` raises on first bad row — contract ingestion.
    """
    reader = spark.read.option("header", header).option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
        if isinstance(schema, StructType):
            from pyspark.sql.types import StringType, StructField

            schema = schema.add(StructField(corrupt_col, StringType(), True))
        elif isinstance(schema, str):
            schema = f"{schema}, {corrupt_col} string"
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    multiline: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON source (the reference's landed API payloads,
    ref: operators/data_quality_operator.py:63-70).

    Same malformed-record policy surface as :func:`read_csv` — the
    reference's ``pd.read_json`` simply crashes on a bad payload
    (ref: operators/data_quality_operator.py:69); here a corrupt API drop
    can be captured per-row (``corrupt_col``), dropped, or fail fast,
    and the captured raw lines feed the quarantine path of the DQ branch.
    """
    reader = spark.read.option("multiLine", multiline).option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
        if isinstance(schema, StructType):
            from pyspark.sql.types import StringType, StructField

            schema = schema.add(StructField(corrupt_col, StringType(), True))
        elif isinstance(schema, str):
            schema = f"{schema}, {corrupt_col} string"
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """ORC source (engine extension — same columnar pushdown/pruning story
    as parquet for lakes that standardized on ORC)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def avro_available(spark: SparkSession) -> bool:
    """Whether the ``spark-avro`` DATASOURCE module is on the classpath.

    Spark ships the core Avro runtime jars (avro/avro-mapred) in every
    distribution, but the ``avro`` DataFrame format lives in the
    external ``org.apache.spark:spark-avro_2.13`` module (external since
    Spark 2.4) — absent from this container and not fetchable offline,
    the same jar-gate as the Kafka connector (sources/kafka.py). The
    probe is Spark's own ``DataSource.lookupDataSource`` — a bare
    Class.forName is NOT sufficient (Spark 4 bundles stray
    ``org.apache.spark.sql.avro`` classes even without the registered
    DSv2 datasource)."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — classpath probe needs the JVM
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_avro(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Avro source (common in Kafka-adjacent lakes).

    Uses the ``spark-avro`` datasource wherever it is deployed (cluster
    images routinely include it; same pushdown/pruning story as ORC).
    When the jar is absent — this container — it FALLS BACK to the
    pure-Python OCF reader (``sources/avro_ocf.py``): ``binaryFile``
    scan + executor-side block decode, same DataFrame out. The fallback
    splits local files larger than 128 MiB on their sync markers (the
    jar's split protocol — round 8) and supports the documented schema
    subset (primitives, records, arrays, maps, enums, fixed, [null,X]
    unions)."""
    if not avro_available(spark):
        from pyspark.sql.types import _parse_datatype_string

        from .avro_ocf import read_avro_ocf

        df = read_avro_ocf(spark, path)
        if schema is not None:
            # honor the caller's declared schema like the jar path does
            # (cast/reorder; missing columns fail loudly, not silently)
            target = (
                _parse_datatype_string(schema)
                if isinstance(schema, str)
                else schema
            )
            df = df.to(target)
        return df
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format("avro").load(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink — spark-avro when deployed, else the pure-Python OCF
    writer (one deflate-coded file per partition; requires a filesystem
    every executor can reach — local[] or a shared mount, which is the
    only place the jar-less case arises). The fallback honors the full
    mode contract: overwrite replaces, append adds uniquely-named part
    files, error/errorifexists refuses a non-empty target, ignore
    no-ops (review r7: append used to silently clobber deterministic
    part names)."""
    if not avro_available(df.sparkSession):
        import os
        import shutil
        import uuid

        from .avro_ocf import write_avro_ocf_files

        existing = os.path.isdir(path) and any(os.scandir(path))
        if mode == "overwrite":
            shutil.rmtree(path, ignore_errors=True)
        elif mode in ("error", "errorifexists"):
            if existing:
                raise FileExistsError(
                    f"write_avro: path already exists: {path}"
                )
        elif mode == "ignore":
            if existing:
                return
        elif mode != "append":
            raise ValueError(f"write_avro: unknown mode {mode!r}")
        suffix = uuid.uuid4().hex[:8] if mode == "append" and existing else None
        write_avro_ocf_files(df, path, part_suffix=suffix)
        return
    df.write.format("avro").mode(mode).save(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("ds",),
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Lake sink: date-partitioned parquet (the reference's S2 sink,
    ref: operators/api_to_s3.py:67-73, re-expressed columnar).

    ``partitionOverwriteMode=dynamic`` so a re-run of one ``ds`` replaces
    only that partition — the idempotent-backfill semantics the reference
    gets from date-keyed S3 paths. Default codec is zstd: at 100 TB the
    ~25-30% size win over snappy is a first-order scan-cost lever and the
    decode speed is comparable.
    """
    (
        df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
    )
    df.write.mode(mode).option("compression", compression).partitionBy(
        *partition_cols
    ).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffled at rest so later joins/aggs on
    ``bucket_col`` skip the exchange entirely (SCALE.md — co-located joins).

    At 100 TB, bucketing the big fact tables on their join key once at
    write time removes the dominant shuffle from every downstream join.
    """
    writer = df.write.mode("overwrite").format("parquet")
    if sort_col:
        writer = writer.bucketBy(n_buckets, bucket_col).sortBy(sort_col)
    else:
        writer = writer.bucketBy(n_buckets, bucket_col)
    writer.saveAsTable(table)
