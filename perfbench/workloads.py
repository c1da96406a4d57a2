"""The three benchmark workloads.

Each workload prepares its inputs, warms its own ops up on a small
input, and runs one op at a time through the harness (``run.Harness``),
which times every phase, tags its Spark jobs and opens its spans. An op
gets what ``prepare`` made for it before its span opened, and returns
its timed walls and, after the timed part, whether its output was
correct.
"""

from __future__ import annotations

import json
import os
import statistics

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

#: scale factor of the measured lake, and of the smoke tests' lake
SF = 0.01
SMOKE_SF = 0.001

#: short interactive queries, driver-side build dominated
ANALYST_OPS = (
    "funnel pricing_summary regional_revenue sessionize_stats hourly_event_counts "
    "shipping_priority asof_join dedup_exact term_doc_freq bitmap_distinct_users"
).split()

#: heavy multi-job curation queries (dedup, similarity, graph)
CURATION_OPS = (
    "minhash_lsh_dedup neardup_groups jaccard_prefix_filter "
    "exact_substr_scrub sq_ann knn_join_fast cheapest_trade_route"
).split()

DIGESTS = os.path.join(HERE, "digests.json")


class QueryWorkload:
    """Named queries over the read-only lake: one op is
    ``QUERIES[name](spark, sf_dir)`` (the build phase) and collecting its
    rows to the driver (the exec phase, which is also the consumer read)."""

    #: a run makes at least this many passes, so each op has a median
    min_passes = 3

    def __init__(self, name: str, ops: tuple | list, sf: float = SF, latency_scaled: bool = False):
        self.name, self.ops, self.sf = name, list(ops), sf
        self.latency_scaled = latency_scaled
        with open(DIGESTS) as f:
            scales = json.load(f)["scales"]
        if str(sf) not in scales:
            raise RuntimeError(f"no stored digests for sf{sf}; run make_digests.py")
        self.expected = scales[str(sf)]
        self.sf_dir = None

    def inputs(self, root: str) -> None:
        self.sf_dir = os.path.join(root, "lake")
        gen.write_lake(self.sf_dir, self.sf)

    def warm(self, h) -> None:
        """Every op twice on the measured lake, so the same plans (join
        strategies, shuffles) are compiled before timing starts, and the
        JVM has compiled the driver's planning code: after one pass, the
        next two still ran 10-25% slower than the third."""
        from data_engineering_etl_self_service_spark.queries import QUERIES

        for _ in range(2):
            for name in self.ops:
                h.clean()
                QUERIES[name](h.spark, self.sf_dir).collect()

    def prepare(self, name: str) -> None:
        """Queries read the lake made at set-up; nothing to make per op."""

    def run_op(self, h, name: str, prep: None) -> dict:
        from data_engineering_etl_self_service_spark.queries import QUERIES

        with h.phase("queries.build"):
            df = QUERIES[name](h.spark, self.sf_dir)
        with h.phase("queries.exec"):
            rows = df.collect()
        build, exe = h.walls["queries.build"], h.walls["queries.exec"]
        return {
            "wall": build + exe, "read": exe,
            "check": lambda: checks.check(self.expected[name], df.columns, [tuple(r) for r in rows]),
        }

    def lake_bytes_per_live_row(self) -> float:
        """The read-only lake the queries serve from (written by the
        benchmark's generator, so this stays constant here)."""
        files = [os.path.join(self.sf_dir, f) for f in os.listdir(self.sf_dir)]
        rows = sum(pq.read_metadata(p).num_rows for p in files)
        return sum(os.path.getsize(p) for p in files) / rows


# -- lake_ingest_cdc ----------------------------------------------------------

SALT = "bench-2024"
RETENTION_DAYS = 2
#: consumer reads after each cycle; the cycle's read is their median, so
#: one read stalled by a GC pause or the host does not set it
READS_PER_CYCLE = 3
#: the snapshot tables a cycle writes (the sessions table's quarantine aside)
TABLES = ("upstream", "replica", "sessions")


def pipeline_config(events_path: str, sessions_path: str) -> dict:
    """The self-service spec of one ingest cycle: the shape of
    ``examples/masked_sessions_rows_dq.yaml`` (rows-mode DQ, sessionize,
    mask, aggregate, snapshot destination) plus retention and small-file
    compaction maintenance."""
    return {
        "pipeline_info": {"name": "bench_masked_sessions", "owner": "perfbench"},
        "source": {"type": "file", "format": "parquet", "path": events_path},
        "data_quality_mode": "rows",
        "transformations": [
            {"op": "sessionize", "gap_minutes": 30},
            {"op": "mask", "columns": ["user_id"], "salt": SALT},
            {"op": "aggregate", "group_by": ["user_id", "session_seq", "event_type"],
             "aggs": {"n_events": "count(*)", "session_start": "min(ts)",
                      "session_end": "max(ts)"}},
        ],
        "data_quality_checks": [
            {"check_type": "non_null", "column": "user_id"},
            {"check_type": "accepted_values", "column": "event_type",
             "values": list(gen.EVENT_TYPES)},
            {"check_type": "min_row_count", "threshold": 100},
        ],
        "destination": {
            "type": "snapshot", "path": sessions_path,
            "maintenance": {
                "retention_delete_where": f"session_start < date_sub('{{{{ ds }}}}', {RETENTION_DAYS})",
                "compact_small_files": True,
            },
        },
    }


_SESSIONS_SQL = f"""
WITH p AS (
  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM read_parquet(?)
), s AS (
  SELECT *, sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM p
)
SELECT CASE WHEN user_id IS NULL THEN NULL
            ELSE sha256('{SALT}' || CAST(user_id AS VARCHAR)) END AS user_id,
       CAST(session_seq AS BIGINT) AS session_seq, event_type,
       count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY ALL
"""


def expected_sessions(events_path: str) -> tuple[list[str], list[tuple], int]:
    """DuckDB recomputation of one cycle: (columns, published rows,
    quarantined row count)."""
    con = duckdb.connect()
    rel = con.execute(_SESSIONS_SQL, [events_path])
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    ui, ti = cols.index("user_id"), cols.index("event_type")
    good = [r for r in rows if r[ui] is not None and r[ti] in gen.EVENT_TYPES]
    return cols, good, len(rows) - len(good)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _data_files(path: str) -> int:
    return sum(
        1 for d, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet")
    )


class IngestWorkload:
    """One op is one ``ds`` cycle: the self-service pipeline publishes the
    day's sessions, upstream commits its change to the keyed orders
    snapshot, and the change feed is drained into the replica. Consumer
    reads of the replica and the sessions table follow, each timed on
    its own. A pass is one delta cycle (upserts, new keys and a
    predicate delete) and one full upstream restatement, in seeded
    order."""

    #: a pass takes longer than a run's measured time
    min_passes = 1
    #: cycles are mostly executor work, not Python-to-JVM round trips
    latency_scaled = False

    def __init__(self, name: str, seed: int, sf: float = SF):
        self.name, self.seed, self.sf = name, seed, sf
        self.ops = ["delta_cycle", "restatement_cycle"]
        self.cycle = 0
        self.window: list[list[tuple]] = []  # published rows of the retained days
        self.injected_bad = 0  # bad events the generator injected so far

    def inputs(self, root: str) -> None:
        self.sf_dir = os.path.join(root, "lake")
        gen.write_lake(self.sf_dir, self.sf)
        self.gen = gen.IngestInputs(
            self.seed, os.path.join(self.sf_dir, "orders.parquet"), os.path.join(root, "ingest"))
        self.t = {k: os.path.join(root, "tables", k) for k in ("sessions", "upstream", "replica", "ckpt")}

    def warm(self, h) -> None:
        """Seed upstream from the lake's orders, sync the replica, and run
        one untimed delta cycle on the measured tables."""
        from data_engineering_etl_self_service_spark.catalog import load_table
        from data_engineering_etl_self_service_spark.sources.cdf import replicate_snapshot
        from data_engineering_etl_self_service_spark.sources.snapshots import write_snapshot

        write_snapshot(load_table(h.spark, self.sf_dir, "orders").select(*gen.ORDER_COLS),
                       self.t["upstream"], mode="overwrite")
        replicate_snapshot(h.spark, self.t["upstream"], self.t["replica"], self.t["ckpt"], ["o_orderkey"])
        h.clean()
        self.run_op(h, "delta_cycle", self.prepare("delta_cycle"))["check"]()

    def prepare(self, name: str) -> dict:
        """The next cycle's day of events and upstream change, and the
        tables' footprint before it: generator and harness work, kept out
        of the op's span."""
        c = self.cycle
        self.cycle += 1
        ev_path, n_bad_events = self.gen.events(c)
        return {"c": c, "ev_path": ev_path, "bad_events": n_bad_events,
                "change": self.gen.change(c, name == "restatement_cycle"),
                "before": self._footprint()}

    def _cycle(self, h, prep: dict) -> dict:
        from data_engineering_etl_self_service_spark.plans.pipeline import compile_pipeline
        from data_engineering_etl_self_service_spark.plans.spec import spec_from_dict
        from data_engineering_etl_self_service_spark.sources import cdf, snapshots

        t, change, spark = self.t, prep["change"], h.spark
        with h.phase("plans.compile"):
            run = compile_pipeline(spec_from_dict(pipeline_config(prep["ev_path"], t["sessions"])))
        with h.phase("plans.run"):
            res = run(spark, self.gen.ds(prep["c"]))
        with h.phase("sources.snapshots.commit"):
            if change["kind"] == "restate":
                snapshots.write_snapshot(spark.read.parquet(change["table"]), t["upstream"], mode="overwrite")
            else:
                snapshots.merge_into_snapshot_delta(
                    spark, t["upstream"], spark.read.parquet(change["upserts"]), ["o_orderkey"])
                snapshots.delete_where(spark, t["upstream"], change["delete_where"])
        with h.phase("sources.cdf.replicate"):
            cdf.replicate_snapshot(spark, t["upstream"], t["replica"], t["ckpt"], ["o_orderkey"])
        return res

    def _read(self, h) -> tuple[list, list, list, list]:
        from data_engineering_etl_self_service_spark.sources.snapshots import read_snapshot

        with h.phase("consumer.read"):
            rep = read_snapshot(h.spark, self.t["replica"])
            ses = read_snapshot(h.spark, self.t["sessions"])
            rep_rows, ses_rows = rep.collect(), ses.collect()
        return rep.columns, rep_rows, ses.columns, ses_rows

    def _footprint(self) -> tuple[int, int, int]:
        """(bytes, data files, committed versions) under the written tables."""
        from data_engineering_etl_self_service_spark.sources.snapshots import snapshot_versions

        dirs = [self.t[k] for k in TABLES]
        return (sum(map(_du, dirs)), sum(map(_data_files, dirs)),
                sum(len(snapshot_versions(d)) for d in dirs))

    def run_op(self, h, name: str, prep: dict) -> dict:
        res = self._cycle(h, prep)
        wall = sum(h.walls[p] for p in ("plans.compile", "plans.run",
                                        "sources.snapshots.commit", "sources.cdf.replicate"))
        walls = []
        for _ in range(READS_PER_CYCLE):
            rep_cols, rep_rows, ses_cols, ses_rows = self._read(h)
            walls.append(h.walls["consumer.read"])
        return {"wall": wall, "read": statistics.median(walls),
                "check": lambda: self._check(h, prep, res, rep_cols, rep_rows, ses_cols, ses_rows)}

    def _check(self, h, prep, res, rep_cols, rep_rows, ses_cols, ses_rows) -> str | None:
        """Output checks and the layer counters of one cycle (untimed)."""
        from data_engineering_etl_self_service_spark.sources.snapshots import read_snapshot

        errors = []
        change, before = prep["change"], prep["before"]
        cols, good, n_bad = expected_sessions(prep["ev_path"])
        if not res.passed or res.published_path is None:
            errors.append(f"DQ gate failed: {res.report}")
        if res.metrics["rows_quarantined"] != n_bad:
            errors.append(f"quarantined {res.metrics['rows_quarantined']} != {n_bad}")
        self.injected_bad += prep["bad_events"]
        quarantined = read_snapshot(h.spark, res.quarantined_rows_path).agg({"n_events": "sum"}).first()[0]
        if quarantined != self.injected_bad:
            errors.append(f"quarantined events {quarantined} != injected {self.injected_bad}")
        self.window = (self.window + [good])[-(RETENTION_DAYS + 1):]
        want = checks.digest(cols, [r for day in self.window for r in day])
        if checks.digest(ses_cols, [tuple(r) for r in ses_rows]) != want:
            errors.append("sessions table != DuckDB recomputation")
        model = pa.Table.from_pandas(self.gen.state, schema=gen.ORDER_SCHEMA, preserve_index=False)
        model_d = checks.digest(model.schema.names, [tuple(r.values()) for r in model.to_pylist()])
        up = read_snapshot(h.spark, self.t["upstream"])
        if checks.digest(up.columns, [tuple(r) for r in up.collect()]) != model_d:
            errors.append("upstream != generated change model")
        if checks.digest(rep_cols, [tuple(r) for r in rep_rows]) != model_d:
            errors.append("replica != upstream after drain")

        # -- layer counters --
        if change["kind"] == "restate":
            changed = change["n_changed"]
        else:
            changed = change["n_upserts"] + change["n_deleted"]
        after = self._footprint()
        h.counters["snapshots.bytes_written"] += max(0, after[0] - before[0])
        h.counters["snapshots.changed_rows"] += changed + res.n_rows
        h.counters["snapshots.new_files"] += max(0, after[1] - before[1])
        h.counters["snapshots.commits"] += after[2] - before[2]
        h.counters["cdf.changed_rows"] += changed
        h.counters["plans.rows_published"] += res.n_rows
        h.counters["plans.rows_in"] += res.n_rows + res.metrics["rows_quarantined"]
        for k in ("plan_s", "checks_s", "write_s"):
            h.counters[f"plans.{k}"] += res.metrics[k]
        return "; ".join(errors) or None

    def lake_bytes_per_live_row(self) -> float:
        """Bytes on disk under the replica and the sessions table, per
        live row of the two."""
        live = len(self.gen.state) + sum(len(day) for day in self.window)
        return (_du(self.t["replica"]) + _du(self.t["sessions"])) / live
