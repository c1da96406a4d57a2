"""Pipeline spec parsing + compiled pipeline runs (publish/quarantine/alert)."""

from __future__ import annotations

import os
import textwrap

from data_engineering_etl_self_service_spark.plans import (
    load_spec,
    run_pipeline,
)
from data_engineering_etl_self_service_spark.plans.spec import spec_from_dict

REFERENCE_SHAPE = """
pipeline_info:
  name: marketing_api_campaigns
  owner: data-team
  schedule: "0 2 * * *"
source:
  type: http_api
  endpoint: campaigns
  params:
    date: "{{ ds }}"
destination:
  s3_bucket: data-lake
  s3_key: raw/marketing_api/{{ ds }}/campaigns.json
data_quality_checks:
  - check_type: min_row_count
    threshold: 10
  - check_type: required_columns
    columns: [id, name]
  - check_type: unique_column
    column: id
"""


def test_parse_reference_yaml_shape(tmp_path):
    p = tmp_path / "campaigns.yaml"
    p.write_text(textwrap.dedent(REFERENCE_SHAPE))
    spec = load_spec(p)
    assert spec.name == "marketing_api_campaigns"
    assert spec.dag_id == "dynamic_ingest_marketing_api_campaigns"
    assert spec.source.type == "http_api"
    assert spec.destination.type == "parquet"
    assert spec.destination.partition_by == ("ds",)
    assert len(spec.checks) == 3
    assert spec.warnings == ()


def test_unknown_check_type_warns_at_parse():
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "x"},
            "source": {"type": "synthetic_events"},
            "destination": {"type": "none"},
            "data_quality_checks": [{"check_type": "vibes"}],
        }
    )
    assert any("vibes" in w for w in spec.warnings)


def test_pipeline_publishes_on_pass(spark, tmp_path):
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "synth"},
            "source": {"type": "synthetic_events", "n": 100, "seed": 7},
            "destination": {"type": "parquet", "path": str(tmp_path / "out"), "partition_by": ["ds"]},
            "data_quality_checks": [{"check_type": "min_row_count", "threshold": 10}],
        }
    )
    res = run_pipeline(spark, spec, ds="2025-07-28")
    assert res.passed and res.published_path and not res.quarantined_path
    out = spark.read.parquet(res.published_path)
    assert out.count() == 100
    assert "ds" in out.columns


def test_pipeline_quarantines_and_alerts_on_failure(spark, tmp_path):
    alerts = []
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "synth"},
            "source": {"type": "synthetic_events", "n": 5},
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
            "data_quality_checks": [{"check_type": "min_row_count", "threshold": 10}],
        }
    )
    res = run_pipeline(spark, spec, alert=lambda dag, rep: alerts.append((dag, rep)))
    assert not res.passed
    assert res.quarantined_path and res.quarantined_path.endswith("__quarantine")
    assert res.published_path is None
    # the FAILED branch is reachable (unlike the reference, SURVEY §2.11 C5)
    assert alerts and alerts[0][0] == "dynamic_ingest_synth"


def test_synthetic_generator_schema_and_vocab(spark):
    from data_engineering_etl_self_service_spark.sources.synthetic import (
        EVENT_TYPES,
        synthetic_user_events,
    )

    df = synthetic_user_events(spark, n=200, seed=1)
    assert df.columns == ["user_id", "event_type", "url", "timestamp", "utm_source"]
    types = {r.event_type for r in df.select("event_type").distinct().collect()}
    assert types <= set(EVENT_TYPES)
    users = {r.user_id for r in df.select("user_id").distinct().collect()}
    assert all(u.startswith("user_") for u in users)


def test_transformations_compile_and_push_down(spark, tmp_path):
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "xf"},
            "source": {"type": "table", "path": "/root/testdata/sf0.001/events.parquet"},
            "transformations": [
                {"op": "filter", "predicate": "event_type = 'purchase'"},
                {"op": "with_column", "name": "day", "expr": "to_date(ts)"},
                {"op": "select", "columns": ["event_id", "user_id", "day", "value"]},
                {"op": "rename", "from": "value", "to": "amount"},
                {"op": "deduplicate", "columns": ["event_id"]},
            ],
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
            "data_quality_checks": [
                {"check_type": "required_columns", "columns": ["event_id", "user_id", "day", "amount"]},
                {"check_type": "unique_column", "column": "event_id"},
            ],
        }
    )
    assert spec.warnings == ()
    res = run_pipeline(spark, spec)
    assert res.passed
    out = spark.read.parquet(res.published_path)
    assert set(out.columns) == {"event_id", "user_id", "day", "amount"}
    assert out.count() > 0


def test_unknown_transformation_warns():
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "x"},
            "source": {"type": "synthetic_events"},
            "destination": {"type": "none"},
            "transformations": [{"op": "teleport"}],
        }
    )
    assert any("teleport" in w for w in spec.warnings)


def test_join_and_aggregate_transformations(spark, tmp_path):
    """A YAML pipeline can enrich against another lake path (broadcast) and
    aggregate — the reference's implied user-profile join + session-metric
    rollup as pure config."""
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "join_agg"},
            "source": {
                "type": "table",
                "path": "/root/testdata/sf0.001/orders.parquet",
            },
            "transformations": [
                {
                    "op": "join",
                    "path": "/root/testdata/sf0.001/customer.parquet",
                    "select": ["c_custkey", "c_mktsegment"],
                    "on": "o_custkey = c_custkey",
                    "how": "inner",
                    "broadcast": True,
                },
                {
                    "op": "aggregate",
                    "group_by": ["c_mktsegment"],
                    "aggs": {
                        "n_orders": "count(*)",
                        "total_price": "cast(sum(cast(o_totalprice as decimal(38,6))) as double)",
                    },
                },
            ],
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1},
                {"check_type": "unique_column", "column": "c_mktsegment"},
            ],
        }
    )
    assert spec.warnings == ()
    res = run_pipeline(spark, spec)
    assert res.passed
    out = spark.read.parquet(res.published_path)
    assert set(out.columns) == {"c_mktsegment", "n_orders", "total_price"}
    rows = out.collect()
    assert sum(r.n_orders for r in rows) == spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).count()


def test_pipeline_snapshot_destination_versions_reruns(spark, tmp_path):
    """destination.type=snapshot: each pipeline run commits a new atomic
    version; the published path reads as a time-travelable table."""
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
    )

    cfg = {
        "pipeline_info": {"name": "snap"},
        "source": {"type": "synthetic_events", "n": 50, "seed": 3},
        "destination": {"type": "snapshot", "path": str(tmp_path / "tbl")},
        "data_quality_checks": [
            {"check_type": "min_row_count", "threshold": 10}
        ],
    }
    spec = spec_from_dict(cfg)
    assert not spec.warnings
    r1 = run_pipeline(spark, spec, ds="2025-07-28")
    r2 = run_pipeline(spark, spec, ds="2025-07-29")
    assert r1.passed and r2.passed
    base = str(tmp_path / "tbl")
    assert snapshot_versions(base) == [1, 2]
    assert read_snapshot(spark, base, version=1).count() == 50
    assert read_snapshot(spark, base).count() == 100


def test_pipeline_metrics_and_row_count(spark, tmp_path):
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "obs"},
            "source": {"type": "synthetic_events", "n": 40, "seed": 1},
            "destination": {"type": "parquet", "path": str(tmp_path / "o")},
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 10}
            ],
        }
    )
    res = run_pipeline(spark, spec)
    assert res.n_rows == 40 and res.report.n_rows == 40
    m = res.metrics
    assert set(m) == {
        "plan_s",
        "checks_s",
        "write_s",
        "total_s",
        "rows_quarantined",
        "partitions_compacted",
        "rows_retention_deleted",
    }
    assert m["total_s"] >= m["checks_s"] >= 0


def test_backfill_continues_past_bad_partition(spark, tmp_path):
    """3-day backfill where one ds fails DQ: that day quarantines, the
    others publish, and re-running a ds only replaces its partition."""
    from data_engineering_etl_self_service_spark.plans.pipeline import (
        backfill,
    )

    seen = []
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "bf"},
            "source": {"type": "synthetic_events", "n": 30, "seed": 5},
            "destination": {
                "type": "parquet",
                "path": str(tmp_path / "lake"),
                "partition_by": ["ds"],
            },
            "transformations": [
                # make 2025-07-29 fail its row gate: filter everything out
                {"op": "filter", "predicate": "ds <> '2025-07-29'"}
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
        }
    )
    days = ["2025-07-28", "2025-07-29", "2025-07-30"]
    results = backfill(
        spark, spec, days, alert=lambda dag, rep: seen.append(dag)
    )
    assert [r.passed for r in results] == [True, False, True]
    assert results[1].quarantined_path and len(seen) == 1
    out = spark.read.parquet(str(tmp_path / "lake"))
    assert {str(r.ds) for r in out.select("ds").distinct().collect()} == {
        "2025-07-28",
        "2025-07-30",
    }
    # idempotent re-run of one good day: row count unchanged
    backfill(spark, spec, ["2025-07-28"])
    assert spark.read.parquet(str(tmp_path / "lake")).count() == 60


def test_yaml_sessionize_transformation(spark, tmp_path):
    """Session analysis straight from YAML: sessionize + aggregate stages
    produce per-session event counts matching the operator directly."""
    from data_engineering_etl_self_service_spark.catalog import load_table
    from data_engineering_etl_self_service_spark.operators.sessionize import (
        sessionize,
    )

    src = str(tmp_path / "events.parquet")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "sess"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "sessionize", "gap_minutes": 30},
                {
                    "op": "aggregate",
                    "group_by": ["user_id", "session_seq"],
                    "aggs": {"n_events": "count(*)"},
                },
            ],
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    got = spark.read.parquet(res.published_path)
    direct = (
        sessionize(spark.read.parquet(src))
        .groupBy("user_id", "session_seq")
        .count()
    )
    assert got.count() == direct.count()
    assert res.n_rows == direct.count()


def test_rows_quality_mode_diverts_only_offenders(spark, tmp_path):
    """data_quality_mode: rows — null-user rows quarantine with their
    _violations tag, clean rows publish, and the table gate still runs
    on the remainder."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0), (4, None)],
        "user_id long, value double",
    ).write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "rowsmode"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "data_quality_mode": "rows",
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
            "data_quality_checks": [
                {"check_type": "non_null", "column": "value"},
                {"check_type": "min_row_count", "threshold": 1},
            ],
        }
    )
    assert not spec.warnings and spec.quality_mode == "rows"
    res = run_pipeline(spark, spec)
    assert res.passed and res.published_path
    assert res.metrics["rows_quarantined"] == 2
    assert res.quarantined_rows_path.endswith("__quarantine")
    assert res.quarantined_path is None
    pub = spark.read.parquet(res.published_path)
    assert {r.user_id for r in pub.collect()} == {1, 3}
    quar = spark.read.parquet(str(tmp_path / "out") + "__quarantine")
    assert quar.count() == 2
    assert set(quar.columns) >= {"user_id", "value", "_violations"}

    # table gate failing on the remainder parks it separately
    spec2 = spec_from_dict(
        {
            "pipeline_info": {"name": "rowsmode2"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "data_quality_mode": "rows",
            "destination": {"type": "parquet", "path": str(tmp_path / "o2")},
            "data_quality_checks": [
                {"check_type": "non_null", "column": "value"},
                {"check_type": "min_row_count", "threshold": 100},
            ],
        }
    )
    res2 = run_pipeline(spark, spec2)
    assert not res2.passed and res2.published_path is None
    # BOTH quarantine locations are reported: the row offenders' park and
    # the table-gated remainder — neither shadows the other
    assert res2.quarantined_path.endswith("__quarantine_batch")
    assert res2.quarantined_rows_path.endswith("__quarantine")
    assert spark.read.parquet(res2.quarantined_rows_path).count() == 2
    assert spark.read.parquet(res2.quarantined_path).count() == 2


def _rows_mode_events(spark, path):
    """500 events of 250 users (so every shuffle partition holds rows),
    ten of them with a null user for the row gate to divert."""
    import pyspark.sql.functions as F

    spark.range(500).select(
        F.when(F.col("id") % 50 == 7, F.lit(None))
        .otherwise(F.col("id") % 250)
        .alias("user_id"),
        F.col("id").alias("event_id"),
        (F.lit(1_700_000_000) + F.col("id") * 60)
        .cast("timestamp")
        .alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click")), (F.col("id") % 2 + 1).cast("int")
        ).alias("event_type"),
    ).write.parquet(path)


def _data_files(base, rel):
    import glob as _glob

    return _glob.glob(os.path.join(base, rel, "*.parquet"))


def test_rows_mode_snapshot_publish_writes_one_file_per_dir(spark, tmp_path):
    """The rows-mode pipeline persists its transformed frame and writes
    the quarantine and the publish from it. AQE sizes that cached plan,
    so at test scale each snapshot data dir holds one file, not one per
    shuffle partition."""
    from data_engineering_etl_self_service_spark.operators.sessionize import (
        sessionize,
    )
    from data_engineering_etl_self_service_spark.sources import snapshots

    src = str(tmp_path / "events.parquet")
    _rows_mode_events(spark, src)
    out = str(tmp_path / "sessions")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "rows_sessions"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "data_quality_mode": "rows",
            "transformations": [
                {"op": "sessionize", "gap_minutes": 30},
                {
                    "op": "aggregate",
                    "group_by": ["user_id", "session_seq"],
                    "aggs": {"n_events": "count(*)"},
                },
            ],
            "data_quality_checks": [
                {"check_type": "non_null", "column": "user_id"},
                {"check_type": "min_row_count", "threshold": 10},
            ],
            "destination": {"type": "snapshot", "path": out},
        }
    )
    res = run_pipeline(spark, spec)
    assert res.passed and res.published_path == out
    direct = (
        sessionize(spark.read.parquet(src))
        .groupBy("user_id", "session_seq")
        .count()
    )
    assert res.metrics["rows_quarantined"] == direct.filter(
        "user_id IS NULL"
    ).count()
    got = snapshots.read_snapshot(spark, out)
    assert sorted(
        tuple(r) for r in got.select("user_id", "session_seq", "n_events").collect()
    ) == sorted(tuple(r) for r in direct.filter("user_id IS NOT NULL").collect())
    for base in (out, res.quarantined_rows_path):
        head = snapshots._read_manifest(base, snapshots.snapshot_versions(base)[-1])
        for rel in head["data_dirs"]:
            assert len(_data_files(base, rel)) == 1, (base, rel)


def test_rows_mode_explicit_repartition_keeps_its_files(spark, tmp_path):
    """An explicit YAML ``repartition`` is a layout the user asked for:
    the cached-plan sizing never coalesces it, so the publish keeps its
    16 files."""
    from data_engineering_etl_self_service_spark.sources import snapshots

    src = str(tmp_path / "events.parquet")
    _rows_mode_events(spark, src)
    out = str(tmp_path / "wide")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "rows_wide"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "data_quality_mode": "rows",
            "transformations": [{"op": "repartition", "n": 16}],
            "data_quality_checks": [
                {"check_type": "non_null", "column": "user_id"},
            ],
            "destination": {"type": "snapshot", "path": out},
        }
    )
    res = run_pipeline(spark, spec)
    assert res.passed and res.metrics["rows_quarantined"] == 10
    head = snapshots._read_manifest(out, snapshots.snapshot_versions(out)[-1])
    assert [len(_data_files(out, rel)) for rel in head["data_dirs"]] == [16]
    assert snapshots.read_snapshot(spark, out).count() == 490


def test_unknown_quality_mode_warns_and_defaults(spark):
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "x"},
            "source": {"type": "synthetic_events", "n": 5},
            "destination": {"type": "none"},
            "data_quality_mode": "vibes",
            "data_quality_checks": [],
        }
    )
    assert spec.quality_mode == "batch"
    assert any("data_quality_mode" in w for w in spec.warnings)


def test_mask_transformation_pseudonymizes_stably(spark, tmp_path):
    """mask: same salt → same digest (joins still line up), different
    salt → unlinkable, NULLs stay NULL, plaintext gone."""
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(1, "ada@example.com"), (2, None), (3, "ada@example.com")],
        "id long, email string",
    ).write.parquet(src)

    def run_with_salt(salt, out):
        spec = spec_from_dict(
            {
                "pipeline_info": {"name": f"mask{out}"},
                "source": {"type": "file", "format": "parquet", "path": src},
                "transformations": [
                    {"op": "mask", "columns": ["email"], "salt": salt}
                ],
                "destination": {"type": "parquet", "path": str(tmp_path / out)},
                "data_quality_checks": [],
            }
        )
        assert not spec.warnings
        return run_pipeline(spark, spec)

    r1 = run_with_salt("s1", "o1")
    r2 = run_with_salt("s2", "o2")
    a = {r.id: r.email for r in spark.read.parquet(r1.published_path).collect()}
    b = {r.id: r.email for r in spark.read.parquet(r2.published_path).collect()}
    assert a[2] is None and b[2] is None
    assert a[1] == a[3] and len(a[1]) == 64  # stable within salt, sha256 hex
    assert "ada@example.com" not in (a[1], b[1])
    assert a[1] != b[1]  # unlinkable across salts


def test_full_product_story_end_to_end(spark, tmp_path):
    """The whole engine in one flow: backfilled YAML pipeline with rows
    DQ into a versioned snapshot table, then MERGE, compaction, vacuum —
    with history intact at each step."""
    from data_engineering_etl_self_service_spark.plans.pipeline import backfill
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        compact_snapshot,
        merge_into_snapshot,
        read_snapshot,
        snapshot_stats,
        vacuum,
    )

    tbl = str(tmp_path / "events_tbl")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "story"},
            "source": {"type": "synthetic_events", "n": 200, "seed": 11},
            "data_quality_mode": "rows",
            "transformations": [
                {"op": "with_column", "name": "uid",
                 "expr": "CAST(substring(user_id, 6, 10) AS INT)"},
            ],
            "destination": {"type": "snapshot", "path": tbl},
            "data_quality_checks": [
                {"check_type": "non_null", "column": "user_id"},
                {"check_type": "min_row_count", "threshold": 10},
            ],
        }
    )
    results = backfill(spark, spec, ["2025-08-01", "2025-08-02"])
    assert all(r.passed for r in results)
    assert read_snapshot(spark, tbl).count() == 400
    assert [h["version"] for h in snapshot_stats(tbl)] == [1, 2]

    # MERGE a correction: bump one uid's rows via tombstone-free upsert
    from pyspark.sql import functions as F

    upd = read_snapshot(spark, tbl).limit(5).withColumn(
        "utm_source", F.lit("corrected")
    )
    merge_into_snapshot(
        spark, tbl, upd,
        key_cols=["user_id", "event_type", "url", "timestamp", "uid"],
    )
    cur = read_snapshot(spark, tbl)
    # both backfill days generated IDENTICAL rows (fixed seed), so the
    # keyed merge collapses the double-ingest to one row per key —
    # exactly what MERGE INTO must do to an accidentally re-landed day.
    assert cur.count() == 200
    assert cur.filter("utm_source = 'corrected'").count() == 5
    # pre-merge state still readable, un-deduplicated and un-corrected
    v2 = read_snapshot(spark, tbl, version=2)
    assert v2.count() == 400
    assert v2.filter("utm_source = 'corrected'").count() == 0

    v = compact_snapshot(spark, tbl, target_files=2)
    vacuum(tbl, keep_last=1)
    assert [h["version"] for h in snapshot_stats(tbl)] == [v]
    assert read_snapshot(spark, tbl).count() == 200


def test_yaml_drop_near_duplicates_transformation(spark, tmp_path):
    src = str(tmp_path / "docs.parquet")
    base = "one two three four five six seven eight nine ten"
    spark.createDataFrame(
        [(1, base), (2, base + " eleven"), (7, "unrelated text entirely "
                                               "about other things here")],
        "doc_id long, text string",
    ).write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "ddup"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "drop_near_duplicates", "threshold": 0.6}
            ],
            "destination": {"type": "parquet", "path": str(tmp_path / "o")},
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(res.published_path).collect()
    )
    assert ids == [1, 7]


def test_training_corpus_story_end_to_end(spark, tmp_path):
    """The LLM-data product story as ONE spec (examples/
    training_corpus_pipeline.yaml shape): near-dup removal -> language
    gate -> quality gate -> chunking -> DQ -> atomic snapshot publish."""
    src = str(tmp_path / "raw.parquet")
    en = (
        "the quick brown fox jumps over the lazy dog and runs to the "
        "river of gold where the morning light settles on a quiet field"
    )
    rows = [
        (1, en),
        (2, en + " extra"),  # near-dup of 1 → dropped (survivor = min id)
        (3, "el rio y la montana los pajaros y el cielo es grande y es azul"),
        (4, "x"),  # too short / low quality → filtered
        (
            5,
            "a long and winding road of stories and the songs of the old "
            "town carried to the sea by the wind and the tide every night",
        ),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "training_corpus"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {
                    "op": "drop_near_duplicates",
                    "text_col": "text",
                    "id_col": "doc_id",
                    "k": 3,
                    "threshold": 0.6,
                },
                {"op": "langid", "text_col": "text"},
                {"op": "filter", "predicate": "lang = 'en'"},
                {"op": "quality_score", "text_col": "text"},
                {
                    "op": "filter",
                    "predicate": "quality_score >= 0.5 AND n_tokens >= 8",
                },
                {
                    "op": "chunk",
                    "text_col": "text",
                    "id_col": "doc_id",
                    "chunk_tokens": 16,
                    "overlap": 4,
                },
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1},
                {
                    "check_type": "required_columns",
                    "columns": ["doc_id", "chunk_id", "chunk_text", "n_tok"],
                },
            ],
            "destination": {
                "type": "snapshot",
                "path": str(tmp_path / "chunks"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed and res.published_path

    from data_engineering_etl_self_service_spark.sources.snapshots import (
        read_snapshot,
    )

    out = read_snapshot(spark, res.published_path)
    assert set(out.columns) == {"doc_id", "chunk_id", "chunk_text", "n_tok"}
    surviving = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    # doc 2 deduped away, doc 3 not English, doc 4 low quality
    assert surviving == {1, 5}
    chunks = sorted(
        (r.doc_id, r.chunk_id, r.n_tok) for r in out.collect()
    )
    # 24-token docs, window 16 stride 12 → 2 chunks each, last one short
    assert [c[1] for c in chunks if c[0] == 1] == [0, 1]
    assert all(c[2] <= 16 for c in chunks)
    # every token covered: first chunk full-width
    assert {c[2] for c in chunks if c[1] == 0} == {16}


def test_rollup_destination_idempotent_per_ds(spark, tmp_path):
    """destination.type=rollup: each ds folds once into the continuous
    aggregate; re-running a ds is a no-op (run_key guard), matching the
    parquet sink's dynamic-overwrite idempotency contract."""
    import pyspark.sql.functions as F

    from data_engineering_etl_self_service_spark.operators.rollup import (
        read_rollup,
    )

    srcs = {}
    for ds, (lo, hi) in {
        "2025-08-01": (0, 60),
        "2025-08-02": (60, 100),
    }.items():
        p = str(tmp_path / f"in_{ds}.parquet")
        spark.range(lo, hi).select(
            "id", (F.col("id") * 2.0).alias("v")
        ).write.parquet(p)
        srcs[ds] = p
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "hourly_rollup"},
            "source": {
                "type": "file",
                "format": "parquet",
                "path": str(tmp_path / "in_{ds}.parquet"),
            },
            "destination": {
                "type": "rollup",
                "path": str(tmp_path / "agg"),
                "grains": {"k": "pmod(id, 4)"},
                "aggs": {"n": ["count"], "s": ["sum", "v"]},
            },
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
        }
    )
    assert not spec.warnings
    for ds in srcs:
        res = run_pipeline(spark, spec, ds=ds)
        assert res.passed
    run_pipeline(spark, spec, ds="2025-08-01")  # re-run: must not double-count
    tot = read_rollup(spark, str(tmp_path / "agg")).collect()[0]
    assert tot["n"] == 100
    got = {
        r["k"]: r["s"]
        for r in read_rollup(
            spark, str(tmp_path / "agg"), {"k": F.col("k")}
        ).collect()
    }
    assert got == {
        r["k"]: r["s"]
        for r in spark.range(100)
        .select("id", (F.col("id") * 2.0).alias("v"))
        .groupBy(F.pmod(F.col("id"), F.lit(4)).alias("k"))
        .agg(F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("s"))
        .collect()
    }


def test_rollup_destination_hist_kind_from_yaml(spark, tmp_path):
    """Sketch/histogram agg kinds ride through the YAML rollup sink
    unchanged: a quoted 'hist:<lo>:<hi>:<bins>' kind maintains an
    exact-mergeable histogram across per-ds folds, and
    hist_percentile reads percentiles off the stored array."""
    import pyspark.sql.functions as F

    from data_engineering_etl_self_service_spark.operators.rollup import (
        hist_percentile,
        read_rollup,
    )

    for ds, (lo, hi) in {
        "2025-08-01": (0, 60),
        "2025-08-02": (60, 100),
    }.items():
        p = str(tmp_path / f"in_{ds}.parquet")
        spark.range(lo, hi).select(
            "id", (F.col("id") * 2.0).alias("v")
        ).write.parquet(p)
    kind = "hist:0:200:20"
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "hist_rollup"},
            "source": {
                "type": "file",
                "format": "parquet",
                "path": str(tmp_path / "in_{ds}.parquet"),
            },
            "destination": {
                "type": "rollup",
                "path": str(tmp_path / "agg"),
                "grains": {"k": "pmod(id, 2)"},
                "aggs": {"h": [kind, "v"], "n": ["count"]},
            },
            "data_quality_checks": [],
        }
    )
    assert not spec.warnings
    for ds in ("2025-08-01", "2025-08-02"):
        assert run_pipeline(spark, spec, ds=ds).passed
    rows = read_rollup(
        spark, str(tmp_path / "agg"), {"k": F.col("k")}
    ).select(
        "k", "n", hist_percentile(F.col("h"), 1, 2, kind).alias("p50")
    ).collect()
    got = {r["k"]: (r["n"], r["p50"]) for r in rows}
    # v = 2*id, id in [0,100): per-parity medians ~98/100; bin width 10
    assert got[0][0] == 50 and got[1][0] == 50
    for k in (0, 1):
        assert abs(got[k][1] - 100.0) <= 10.0


def test_multimodal_pipeline_story_end_to_end(spark, tmp_path):
    """The multimodal-curation product story as ONE spec: binary
    payloads → cheap no-decode metadata (size/sha/format sniff) →
    format gate → REAL typed decode (decode_media mode=features) →
    quality gate on decoded fields → DQ → snapshot publish. Corrupt
    payloads survive as sniffed rows and are filtered declaratively,
    never by task failure."""
    import numpy as np

    from data_engineering_etl_self_service_spark.operators.jpeg import build_jpeg
    from data_engineering_etl_self_service_spark.operators.mp3 import build_mp3
    from data_engineering_etl_self_service_spark.operators.multimodal import (
        build_png,
    )
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        read_snapshot,
    )

    src = str(tmp_path / "assets.parquet")
    img = np.tile(np.array([10, 200, 33], np.uint8), (9, 12, 1))
    rows = [
        (1, bytearray(build_png(8, 6, 50, 60, 70))),
        (2, bytearray(build_jpeg(img, subsampling="420", progressive=True))),
        (3, bytearray(build_mp3("1", 9, 0, False, 8, xing=True))),
        (4, bytearray(b"\xff\xd8\xff\xe0corrupt-jpeg")),  # sniffed only
        (5, bytearray(b"not media at all")),  # unknown
    ]
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "multimodal_curation"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "decode_media", "mode": "metadata"},
                {"op": "filter", "predicate": "format <> 'unknown'"},
                {"op": "decode_media", "mode": "features"},
                # decoded-field gate: images need dims, audio needs a rate
                {
                    "op": "filter",
                    "predicate": "width IS NOT NULL OR sample_rate IS NOT NULL",
                },
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1},
                {"check_type": "non_null", "column": "kind"},
            ],
            "destination": {
                "type": "snapshot",
                "path": str(tmp_path / "curated"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed and res.published_path
    out = {r.doc_id: r for r in read_snapshot(spark, res.published_path).collect()}
    # doc 4 (corrupt jpeg: sniffed, no dims) and doc 5 (unknown) gated out
    assert set(out) == {1, 2, 3}
    assert out[1].kind == "png" and (out[1].width, out[1].height) == (8, 6)
    assert out[2].kind == "jpeg" and (out[2].width, out[2].height) == (12, 9)
    assert round(out[2].mean_g) == 200  # progressive 4:2:0 really decoded
    assert out[3].kind == "mp3" and out[3].sample_rate == 44100

    # unknown mode: tolerated (dispatch skips), flagged nowhere fatal
    spec2 = spec_from_dict(
        {
            "pipeline_info": {"name": "noop"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [{"op": "decode_media", "mode": "nope"}],
            "data_quality_checks": [],
            "destination": {"type": "none"},
        }
    )
    res2 = run_pipeline(spark, spec2)
    assert res2.passed


def test_extract_text_pipeline_op(spark, tmp_path):
    """The round-5 extract_text op: HTML (main-text and all-text tiers)
    and PDF arrival formats become a plain-text column inside one YAML
    pipeline, composable with the text ops downstream; malformed
    payloads degrade to empty text, never failures."""
    from data_engineering_etl_self_service_spark.operators.html import build_html
    from data_engineering_etl_self_service_spark.operators.pdf import build_pdf

    text = "spark engines like declarative plans and pushed filters"
    src = str(tmp_path / "raw_docs.parquet")
    spark.createDataFrame(
        [
            (1, build_html(text, 1), bytearray(build_pdf(text, 1))),
            (2, "<p>broken <table><td>markup", bytearray(b"%PDF-1.4 junk")),
        ],
        "doc_id long, html string, pdf binary",
    ).write.parquet(src)

    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "extract"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {
                    "op": "extract_text",
                    "format": "html_main",
                    "input_col": "html",
                    "output_col": "main_text",
                },
                {
                    "op": "extract_text",
                    "format": "html_all",
                    "input_col": "html",
                    "output_col": "all_text",
                },
                {
                    "op": "extract_text",
                    "format": "pdf",
                    "input_col": "pdf",
                    "output_col": "pdf_text",
                },
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {
                "type": "snapshot",
                "path": str(tmp_path / "extracted"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed and res.published_path
    from data_engineering_etl_self_service_spark.sources.snapshots import (
        read_snapshot,
    )

    out = {
        r.doc_id: r
        for r in read_snapshot(spark, res.published_path).collect()
    }
    assert out[1].main_text == text and out[1].pdf_text == text
    assert text in out[1].all_text  # tag-strip keeps chrome text too
    assert out[2].main_text == "broken markup"  # malformed html tolerated
    assert out[2].pdf_text == ""  # malformed pdf degrades, no failure


def test_round6_curation_ops_in_yaml(spark, tmp_path):
    """The round-6 curation ops as YAML stanzas: scrub_duplicates
    replaces the text column with the duplicate-span-scrubbed rejoin,
    lm_fluency attaches integer fluency scores to gate on, and the
    shards destination writes the deterministic shard layout."""
    span = "the quick brown fox jumps over fences"
    rows = [
        (0, f"alpha bravo {span} charlie delta"),
        (1, f"echo foxtrot golf {span} hotel"),
        (2, "india juliet kilo lima mike november oscar"),
        (3, "papa quebec romeo sierra tango uniform victor"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "out")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "curate"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "scrub_duplicates", "k": 5, "max_gram_occ": 16},
                {"op": "lm_fluency"},
                {"op": "filter", "predicate": "n_kept_tokens >= 1"},
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {"type": "shards", "path": out, "n_shards": 2},
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    back = spark.read.parquet(out)
    got = {r.doc_id: r for r in back.collect()}
    assert len(got) == 4
    assert got[0].text == "alpha bravo charlie delta"  # span scrubbed
    assert got[2].text == "india juliet kilo lima mike november oscar"
    assert got[0].n_dup_tokens == 7 and got[2].n_dup_tokens == 0
    assert all(r.avg_cond_ppm is not None for r in got.values())
    # shard layout on disk
    import pathlib

    assert sorted(
        p.name for p in pathlib.Path(out).iterdir() if p.name.startswith("shard=")
    ) == ["shard=0", "shard=1"]


def test_yaml_semantic_dedup_drops_near_parallel_vectors(spark, tmp_path):
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    ortho = [0.0, 1.0, 0.0, 0.0]
    src = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(0, base), (1, near), (2, ortho)],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    out = str(tmp_path / "kept")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "semdedup"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {
                    "op": "semantic_dedup",
                    "k": 2,
                    "n_iters": 2,
                    "tau_num": 9,
                    "tau_den": 10,
                }
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {"type": "parquet", "path": out},
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    kept_ids = sorted(
        r.vec_id for r in spark.read.parquet(out).collect()
    )
    assert kept_ids == [0, 2]  # near-parallel 1 dropped, lowest id kept


def test_yaml_temporal_join_enriches_at_event_time(spark, tmp_path):
    """The temporal_join stanza: facts pick up the dimension attribute
    valid at their OWN timestamp, never the current one."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    dim_path = str(tmp_path / "tiers.parquet")
    spark.createDataFrame(
        [
            (10, t0, "bronze"),
            (10, t0 + dt.timedelta(days=5), "gold"),
        ],
        "user_id long, valid_from timestamp, tier string",
    ).write.parquet(dim_path)
    facts_path = str(tmp_path / "facts.parquet")
    spark.createDataFrame(
        [
            (1, 10, t0 + dt.timedelta(days=1)),
            (2, 10, t0 + dt.timedelta(days=9)),
        ],
        "fact_id long, user_id long, ts timestamp",
    ).write.parquet(facts_path)
    out = str(tmp_path / "enriched")
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "pit"},
            "source": {"type": "file", "format": "parquet", "path": facts_path},
            "transformations": [
                {"op": "temporal_join", "dim_path": dim_path, "on": "user_id"}
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {"type": "parquet", "path": out},
        }
    )
    assert not spec.warnings
    assert run_pipeline(spark, spec).passed
    got = {r.fact_id: r.tier for r in spark.read.parquet(out).collect()}
    assert got == {1: "bronze", 2: "gold"}


def test_extract_archive_pipeline_op(spark, tmp_path):
    """The round-6 extract_archive op: packaged corpora (WebDataset tar
    shards / zip archives) unpack inside one YAML pipeline — sample
    regrouping feeds the text ops downstream; a corrupt shard yields
    the members that parsed, never a failure."""
    from data_engineering_etl_self_service_spark.operators.archive import (
        build_tar,
        build_zip,
    )

    src = str(tmp_path / "shards.parquet")
    rows = [
        (
            1,
            bytearray(
                build_tar(
                    [
                        ("0001-a.txt", b"alpha text"),
                        ("0001-a.json", b"{}"),
                        ("0002-b.txt", b"beta text"),
                    ]
                )
            ),
        ),
        (2, bytearray(build_tar([("0003-c.txt", b"gamma")], gzip_whole=True))),
        (3, bytearray(b"corrupt, not a tar at all")),
    ]
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "wds_ingest"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "extract_archive", "format": "wds_samples"},
                {"op": "filter", "predicate": "text IS NOT NULL"},
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1},
                {"check_type": "non_null", "column": "sample_key"},
            ],
            "destination": {"type": "parquet", "path": str(tmp_path / "samples")},
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed and res.published_path
    out = {
        r.sample_key: r
        for r in spark.read.parquet(res.published_path).collect()
    }
    # shard 3 (corrupt) contributes nothing; every real sample surfaces
    assert set(out) == {"0001-a", "0002-b", "0003-c"}
    assert out["0001-a"].n_parts == 2 and out["0001-a"].text == "alpha text"
    assert out["0003-c"].text == "gamma"

    # member-inventory variants + unknown-format tolerance
    zsrc = str(tmp_path / "zips.parquet")
    spark.createDataFrame(
        [(9, bytearray(build_zip([("a.txt", b"zz"), ("b.bin", b"\x01")])))],
        "doc_id long, payload binary",
    ).write.parquet(zsrc)
    for fmt, expect_rows in (("zip_members", 2), ("tar_members", 0), ("nope", 1)):
        spec2 = spec_from_dict(
            {
                "pipeline_info": {"name": f"inv_{fmt}"},
                "source": {"type": "file", "format": "parquet", "path": zsrc},
                "transformations": [{"op": "extract_archive", "format": fmt}],
                "data_quality_checks": [],
                "destination": {"type": "none"},
            }
        )
        res2 = run_pipeline(spark, spec2)
        assert res2.passed
        assert res2.n_rows == expect_rows


def test_wds_to_decode_media_composition(spark, tmp_path):
    """The multimodal WebDataset story end to end in ONE spec: tar
    shards of (png + txt + json) samples → extract_archive
    (payload_ext carries the image bytes) → decode_media features →
    real decoded dimensions. A sample missing the payload extension
    degrades to an unknown-format row, never a failure."""
    from data_engineering_etl_self_service_spark.operators.archive import (
        build_tar,
    )
    from data_engineering_etl_self_service_spark.operators.multimodal import (
        build_png,
    )

    src = str(tmp_path / "wds.parquet")
    rows = [
        (
            1,
            bytearray(
                build_tar(
                    [
                        ("s001.png", build_png(8, 6, 10, 20, 30)),
                        ("s001.txt", b"a red-ish square"),
                        ("s001.json", b"{}"),
                    ]
                )
            ),
        ),
        (
            2,
            bytearray(
                build_tar([("s002.txt", b"text-only sample, no image")])
            ),
        ),
    ]
    spark.createDataFrame(rows, "doc_id long, payload binary").write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "wds_multimodal"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {
                    "op": "extract_archive",
                    "format": "wds_samples",
                    "payload_ext": "png",
                },
                {"op": "decode_media", "mode": "features"},
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    out = {r.doc_id: r for r in spark.read.parquet(res.published_path).collect()}
    assert out[1].kind == "png" and (out[1].width, out[1].height) == (8, 6)
    assert out[2].kind == "unknown"  # payload_ext absent -> degraded row


def test_tokenize_pipeline_op_all_families(spark, tmp_path):
    """The round-6 tokenize op: all three subword families train on
    the pipeline's own corpus and attach per-doc piece arrays whose
    concatenation reconstructs the original words (lossless subword
    property), via a distributed types-join — no word dict collects."""
    src = str(tmp_path / "docs.parquet")
    rows = [
        (1, "the thing sings"),
        (2, "the theme thins"),
        (3, "sing the thing"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    for family in ("bpe", "wordpiece", "unigram", "nope"):
        spec = spec_from_dict(
            {
                "pipeline_info": {"name": f"tok_{family}"},
                "source": {"type": "file", "format": "parquet", "path": src},
                "transformations": [
                    {"op": "tokenize", "family": family, "n_merges": 4}
                ],
                "data_quality_checks": [],
                "destination": {"type": "none"},
            }
        )
        res = run_pipeline(spark, spec)
        assert res.passed, family
    # drive one family end-to-end and check the lossless property
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "tok_check"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "tokenize", "family": "unigram", "em_rounds": 1}
            ],
            "data_quality_checks": [{"check_type": "min_row_count", "threshold": 3}],
            "destination": {"type": "parquet", "path": str(tmp_path / "out")},
        }
    )
    res = run_pipeline(spark, spec)
    assert res.passed
    out = {r.doc_id: r for r in spark.read.parquet(res.published_path).collect()}
    for doc_id, text in rows:
        joined = "".join(out[doc_id].pieces)
        assert joined == text.replace(" ", "")
        assert out[doc_id].n_pieces == len(out[doc_id].pieces) > 0


def test_round6c_extract_formats_and_classify_ops(spark, tmp_path):
    """Round-6c YAML stanzas: extract_text gains docx/eml/latex/srt
    formats, normalize_unicode canonicalizes in place, and classify
    trains NB on labeled rows and scores everything — composable with
    a plain filter downstream."""
    from data_engineering_etl_self_service_spark.operators.docx import build_docx
    from data_engineering_etl_self_service_spark.operators.latex import build_latex
    from data_engineering_etl_self_service_spark.operators.mail import build_eml
    from data_engineering_etl_self_service_spark.operators.subtitles import (
        build_srt,
    )

    text = "spark engines like declarative plans and pushed filters"
    src = str(tmp_path / "raw6c.parquet")
    spark.createDataFrame(
        [
            (
                1,
                bytearray(build_docx(text, 1)),
                bytearray(build_eml(text, 1)),
                build_latex(text, 1),
                build_srt(text, 1),
                "café",
            ),
            (
                2,
                bytearray(b"not a zip"),
                bytearray(build_eml(text, 2)),
                text,
                "garbage without cues",
                "plain",
            ),
        ],
        "doc_id long, docx binary, eml binary, tex string, srt string, "
        "txt string",
    ).write.parquet(src)

    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "extract6c"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "extract_text", "format": "docx",
                 "input_col": "docx", "output_col": "docx_text"},
                {"op": "extract_text", "format": "eml",
                 "input_col": "eml", "output_col": "eml_text"},
                {"op": "extract_text", "format": "latex",
                 "input_col": "tex", "output_col": "tex_text"},
                {"op": "extract_text", "format": "srt",
                 "input_col": "srt", "output_col": "srt_text"},
                {"op": "normalize_unicode", "text_col": "txt"},
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {
                "type": "parquet",
                "path": str(tmp_path / "out6c"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    out = {
        r.doc_id: r
        for r in spark.read.parquet(res.published_path).collect()
    }
    assert out[1].docx_text == f"Document 1 {text}"
    assert out[1].eml_text == text
    assert out[1].tex_text == f"Document 1 Part 1 {text}"
    assert out[1].srt_text == text
    assert out[1].txt == "café"  # NFC composed
    assert out[2].docx_text == ""  # malformed degrades
    assert out[2].srt_text == ""


def test_classify_pipeline_op(spark, tmp_path):
    """classify: NB trains on rows with a label, scores all rows, and
    the attached odds gate downstream filters."""
    rows = [
        (i, f"spam spam offer {i}", True) for i in range(8)
    ] + [
        (100 + i, f"meeting notes agenda {i}", False) for i in range(8)
    ] + [
        (200, "spam offer inside", None),
        (201, "agenda for the meeting", None),
    ]
    src = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, label boolean"
    ).write.parquet(src)

    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "classify"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "classify", "label_col": "label"},
                {"op": "filter", "predicate": "predicted"},
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {
                "type": "parquet",
                "path": str(tmp_path / "kept"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    kept = {r.doc_id for r in spark.read.parquet(res.published_path).collect()}
    assert 200 in kept and 201 not in kept  # unlabeled rows scored
    assert all(d < 100 or d == 200 for d in kept)  # spam class only


def test_extract_archive_tfrecord_format(spark, tmp_path):
    """extract_archive format tfrecord_examples explodes TF shards."""
    from data_engineering_etl_self_service_spark.operators.tfrecord import (
        build_example,
        build_tfrecord,
    )

    shard = build_tfrecord(
        [build_example({"text": [f"doc {i}".encode()]}) for i in range(3)]
    )
    src = str(tmp_path / "tfshards.parquet")
    spark.createDataFrame(
        [(1, bytearray(shard))], "doc_id long, payload binary"
    ).write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "tfr"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "extract_archive", "format": "tfrecord_examples"}
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 3}
            ],
            "destination": {
                "type": "parquet",
                "path": str(tmp_path / "tfrout"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    out = spark.read.parquet(res.published_path)
    assert out.count() == 3 and out.filter("crc_ok").count() == 3


def test_classify_op_null_text_and_empty_train(spark, tmp_path):
    """classify keeps NULL-text rows (NULL odds, predicted=false) and
    fails loudly when no row carries a label."""
    import pytest as _pytest

    from data_engineering_etl_self_service_spark.plans.pipeline import (
        apply_transformations,
    )

    def _ops(frame, ops):
        spec = spec_from_dict(
            {
                "pipeline_info": {"name": "t"},
                "source": {"type": "file", "format": "parquet", "path": "x"},
                "transformations": ops,
                "data_quality_checks": [],
                "destination": {"type": "parquet", "path": "y"},
            }
        )
        return apply_transformations(frame, spec)

    df = spark.createDataFrame(
        [
            (1, "spam offer", True),
            (2, "meeting notes", False),
            (3, None, None),
        ],
        "doc_id long, text string, label boolean",
    )
    out = _ops(df, [{"op": "classify", "label_col": "label"}])
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # NULL-text row survives
    assert rows[3]["bern_odds"] is None and rows[3]["predicted"] is False

    unlabeled = df.selectExpr(
        "doc_id", "text", "CAST(NULL AS boolean) AS label"
    )
    with _pytest.raises(ValueError, match="no rows have a non-null"):
        _ops(unlabeled, [{"op": "classify", "label_col": "label"}])


def test_extract_text_markdown_epub_feed_formats(spark, tmp_path):
    from data_engineering_etl_self_service_spark.operators.epub import build_epub
    from data_engineering_etl_self_service_spark.operators.feeds import build_feed
    from data_engineering_etl_self_service_spark.operators.markdown import (
        build_markdown,
    )

    text = "spark engines like declarative plans and pushed filters"
    src = str(tmp_path / "raw_md.parquet")
    spark.createDataFrame(
        [
            (
                1,
                build_markdown(text, 1),
                bytearray(build_epub(text, 1)),
                build_feed(text, 1),
            )
        ],
        "doc_id long, md string, epub binary, feed string",
    ).write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "md6c"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "extract_text", "format": "markdown",
                 "input_col": "md", "output_col": "md_text"},
                {"op": "extract_text", "format": "epub",
                 "input_col": "epub", "output_col": "epub_text"},
                {"op": "extract_text", "format": "feed",
                 "input_col": "feed", "output_col": "feed_text"},
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "destination": {
                "type": "parquet",
                "path": str(tmp_path / "md_out"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    row = spark.read.parquet(res.published_path).collect()[0]
    assert row.md_text == f"Document 1 {text}"
    assert row.epub_text == f"Chapter 1 {text}"
    assert row.feed_text == text


def test_extract_text_sniff_format(spark, tmp_path):
    src = str(tmp_path / "raw_bytes.parquet")
    spark.createDataFrame(
        [
            (1, bytearray("utf-16 text here".encode("utf-16-le"))),
            (2, bytearray(b"caf\xe9 latin")),
            (3, bytearray(b"\xef\xbb\xbfbom utf8")),
        ],
        "doc_id long, raw binary",
    ).write.parquet(src)
    spec = spec_from_dict(
        {
            "pipeline_info": {"name": "sniff"},
            "source": {"type": "file", "format": "parquet", "path": src},
            "transformations": [
                {"op": "extract_text", "format": "sniff",
                 "input_col": "raw", "output_col": "text"}
            ],
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 3}
            ],
            "destination": {
                "type": "parquet",
                "path": str(tmp_path / "sniffed"),
            },
        }
    )
    assert not spec.warnings
    res = run_pipeline(spark, spec)
    assert res.passed
    rows = {r.doc_id: r.text for r in spark.read.parquet(res.published_path).collect()}
    assert rows == {1: "utf-16 text here", 2: "café latin", 3: "bom utf8"}


def test_pipeline_reads_avro_and_orc_sources(spark, tmp_path):
    """YAML `source: {type: file, format: avro|orc}` — the avro path
    exercises the jar-less OCF fallback end to end THROUGH the
    self-service contract (write with write_avro, read via the spec,
    DQ-gate, publish)."""
    from data_engineering_etl_self_service_spark.sources.files import (
        write_avro,
    )

    src_df = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(40)],
        "id long, name string, score double",
    )
    avro_dir = str(tmp_path / "in_avro")
    write_avro(src_df, avro_dir)
    orc_dir = str(tmp_path / "in_orc")
    src_df.write.orc(orc_dir)
    for fmt, path in (("avro", avro_dir), ("orc", orc_dir)):
        spec = spec_from_dict(
            {
                "pipeline_info": {"name": f"{fmt}-src"},
                "source": {
                    "type": "file",
                    "format": fmt,
                    "path": path,
                },
                "transformations": [
                    {"op": "filter", "predicate": "id >= 10"}
                ],
                "destination": {
                    "type": "parquet",
                    "path": str(tmp_path / f"out_{fmt}"),
                },
                "data_quality_checks": [
                    {"check_type": "min_row_count", "threshold": 10}
                ],
            }
        )
        assert not spec.warnings
        res = run_pipeline(spark, spec)
        assert res.passed and res.published_path
        out = spark.read.parquet(res.published_path)
        assert out.count() == 30
        assert {r["id"] for r in out.select("id").collect()} == set(
            range(10, 40)
        )


def test_yaml_maintenance_compacts_small_files(spark, tmp_path):
    """destination.maintenance.compact_small_files (round 8): a passed
    publish whose ds partition lands as many tiny files is compacted
    in-place by the audit→compact loop, rows preserved, and the run
    reports partitions_compacted."""
    import glob

    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )

    src = tmp_path / "in.json"
    out = tmp_path / "tbl"
    import json as _json

    with open(src, "w") as fh:
        for i in range(400):
            fh.write(_json.dumps({"event_id": i, "v": i * 2}) + "\n")
    spec = spec_from_dict(
        {
            "pipeline_info": {"dag_id": "maint"},
            "source": {"type": "file", "format": "json", "path": str(src)},
            "destination": {
                "type": "parquet",
                "path": str(out),
                "partition_by": ["ds"],
                "maintenance": {
                    "compact_small_files": True,
                    "small_file_mb": 1,
                    "target_mb": 128,
                },
            },
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "transformations": [
                # fan the write out to many tiny files
                {"op": "repartition", "n": 16}
            ],
        }
    )
    res = run_pipeline(spark, spec, ds="2025-08-15")
    assert res.report.passed and res.published_path == str(out)
    assert res.metrics["partitions_compacted"] == 1
    files = glob.glob(str(out / "ds=2025-08-15" / "*.parquet"))
    assert len(files) == 1  # 16 tiny files -> 1
    got = sorted(
        r["event_id"]
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == list(range(400))


def test_yaml_maintenance_compacts_snapshot_destination(spark, tmp_path):
    """Round 9 (VERDICT r8 #4): maintenance.compact_small_files on a
    SNAPSHOT destination routes through the single-pointer manifest
    commit — the published version's tiny-file data dir is rewritten
    and swapped as a new version, rows preserved, old version still
    time-travelable, no rename anywhere."""
    import json as _json

    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )
    from data_engineering_etl_self_service_spark.sources import snapshots

    src = tmp_path / "in.json"
    out = tmp_path / "tbl"
    with open(src, "w") as fh:
        for i in range(400):
            fh.write(_json.dumps({"event_id": i, "v": i * 2}) + "\n")
    spec = spec_from_dict(
        {
            "pipeline_info": {"dag_id": "maint_snap"},
            "source": {"type": "file", "format": "json", "path": str(src)},
            "destination": {
                "type": "snapshot",
                "path": str(out),
                "maintenance": {
                    "compact_small_files": True,
                    "small_file_mb": 1,
                    "target_mb": 128,
                },
            },
            "data_quality_checks": [
                {"check_type": "min_row_count", "threshold": 1}
            ],
            "transformations": [{"op": "repartition", "n": 16}],
        }
    )
    res = run_pipeline(spark, spec, ds="2025-08-15")
    assert res.report.passed and res.published_path == str(out)
    assert res.metrics["partitions_compacted"] == 1
    # v1 = the publish, v2 = the compaction commit
    assert snapshots.snapshot_versions(str(out)) == [1, 2]
    assert snapshots._read_manifest(str(out), 2)["mode"] == "compact"
    head = snapshots.read_snapshot(spark, str(out))
    assert sorted(
        r["event_id"] for r in head.collect()
    ) == list(range(400))
    # the compacted head lists ONE dir with one file
    m = snapshots._read_manifest(str(out), 2)
    assert len(m["data_dirs"]) == 1
    import glob as _glob

    files = _glob.glob(str(out / m["data_dirs"][0] / "*.parquet"))
    assert len(files) == 1  # 16 tiny files -> 1
    # time travel to the pre-compaction version still works
    assert (
        snapshots.read_snapshot(spark, str(out), version=1).count()
        == 400
    )


def test_yaml_maintenance_retention_delete_where(spark, tmp_path):
    """destination.maintenance.retention_delete_where (round 9): a
    passed snapshot publish is followed by a position-delete commit —
    rows past the retention predicate (with {{ ds }} substituted) stop
    being visible, zero data rewritten; a same-run compaction then
    materializes the vectors. Parquet destinations reject the switch
    loudly."""
    import json as _json

    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )
    from data_engineering_etl_self_service_spark.sources import snapshots

    src = tmp_path / "in.json"
    out = tmp_path / "tbl"
    with open(src, "w") as fh:
        for i in range(100):
            fh.write(
                _json.dumps(
                    {"event_id": i, "day": f"2025-08-{(i % 20) + 1:02d}"}
                )
                + "\n"
            )
    base_spec = {
        "pipeline_info": {"dag_id": "retention"},
        "source": {"type": "file", "format": "json", "path": str(src)},
        "destination": {
            "type": "snapshot",
            "path": str(out),
            "maintenance": {
                "retention_delete_where": "day < '{{ ds }}'",
            },
        },
        "data_quality_checks": [
            {"check_type": "min_row_count", "threshold": 1}
        ],
    }
    res = run_pipeline(spark, spec_from_dict(base_spec), ds="2025-08-05")
    assert res.report.passed
    # days 01..04 deleted: 4 of the 20 day values, 5 rows each
    assert res.metrics["rows_retention_deleted"] == 20
    head = snapshots.read_snapshot(spark, str(out))
    assert head.count() == 80
    assert head.filter("day < '2025-08-05'").count() == 0
    # the publish version (pre-delete) still shows all rows
    assert snapshots.read_snapshot(spark, str(out), version=1).count() == 100
    # vectors, not rewrites: the delete commit carries the same data dirs
    vs = snapshots.snapshot_versions(str(out))
    m_pub = snapshots._read_manifest(str(out), vs[0])
    m_del = snapshots._read_manifest(str(out), vs[-1])
    assert m_del["mode"] == "delete"
    assert m_del["data_dirs"] == m_pub["data_dirs"]

    # a parquet destination must reject the switch, not no-op it
    import pytest as _pytest

    bad = dict(base_spec)
    bad["destination"] = {
        "type": "parquet",
        "path": str(tmp_path / "plain"),
        "maintenance": {"retention_delete_where": "day < '{{ ds }}'"},
    }
    with _pytest.raises(ValueError, match="retention_delete_where"):
        run_pipeline(spark, spec_from_dict(bad), ds="2025-08-05")


def test_retention_template_spellings_and_missing_ds(spark, tmp_path):
    """The {{ds}} spelling (no inner spaces) substitutes too, and a
    ds-templated retention predicate with NO ds raises instead of
    silently no-oping forever (review r9)."""
    import json as _json

    import pytest as _pytest

    from data_engineering_etl_self_service_spark.plans.pipeline import (
        run_pipeline,
    )
    from data_engineering_etl_self_service_spark.plans.spec import (
        spec_from_dict,
    )

    src = tmp_path / "in.json"
    with open(src, "w") as fh:
        for i in range(10):
            fh.write(
                _json.dumps({"k": i, "day": f"2025-08-{i + 1:02d}"}) + "\n"
            )

    def mk(out):
        return spec_from_dict(
            {
                "pipeline_info": {"dag_id": "ret2"},
                "source": {
                    "type": "file", "format": "json", "path": str(src)
                },
                "destination": {
                    "type": "snapshot",
                    "path": str(out),
                    "maintenance": {
                        "retention_delete_where": "day < '{{ds}}'"
                    },
                },
                "data_quality_checks": [
                    {"check_type": "min_row_count", "threshold": 1}
                ],
            }
        )

    res = run_pipeline(spark, mk(tmp_path / "t1"), ds="2025-08-04")
    assert res.metrics["rows_retention_deleted"] == 3
    with _pytest.raises(ValueError, match="no ds"):
        run_pipeline(spark, mk(tmp_path / "t2"), ds=None)
