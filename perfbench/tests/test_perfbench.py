"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q        # from the repository root

The smoke runs start a Spark session per run (a few minutes in all).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

WORKLOADS = ["analyst_queries", "curation_batch", "lake_ingest_cdc"]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_metric(workload, trace):
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert detail["failed_ops_frac"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    else:
        assert detail["layers"]["table"], "traced run reports its layer table"
        stem = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed7")
        assert os.path.getsize(stem + "-spans.jsonl") > 0
        assert os.path.getsize(stem + "-layers.md") > 0


def test_event_log_parser_on_recorded_log():
    """``data/eventlog_small.jsonl`` (written by ``record_eventlog.py``) is a
    pruned event log of a local[2] session that ran two tagged jobs
    (``op1:build``: a 4-partition count; ``op2:exec``: a 3-partition
    group-by into 2 shuffle partitions) and one untagged job."""
    ev = tracing.parse_event_log(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    jobs = sorted(ev["jobs"].values(), key=lambda j: j["submit"])
    assert [j["group"] for j in jobs] == ["op1:build", "op2:exec", None]
    # a count and a group-by are each a map stage and a reduce stage
    assert [(j["stages"], j["tasks"]) for j in jobs] == [(2, 5), (2, 5), (1, 1)]
    assert all(j["end"] >= j["submit"] for j in jobs)
    assert sum(j["shuffle_write"] for j in jobs) > 0
    assert sum(j["shuffle_read"] for j in jobs) == sum(j["shuffle_write"] for j in jobs)
    assert all(j["run_ms"] >= 0 and j["cpu_ns"] >= 0 for j in jobs)

    # attribution: tagged jobs by tag, the untagged one by its time window
    t0, t1 = jobs[0]["submit"] - 1, jobs[-1]["end"] + 1
    spans = []
    for op, (a, b) in enumerate([(t0, jobs[1]["submit"] - 0.0005), (jobs[1]["submit"] - 0.0005, t1)], 1):
        s = tracing.Span(op, f"op:{op}", None, op)
        s.start, s.end = a, b
        spans.append(s)
    by_op = tracing.assign_jobs(ev["jobs"], spans)
    assert len(by_op[1]) == 1 and len(by_op[2]) == 2
    m = tracing.spark_metrics(by_op, spans, cores=2)
    assert m["spark.jobs"] == 1.5
    assert 0 < m["spark.core_util"] <= 1
    assert 0 <= m["spark.driver_gap_s"] <= (t1 - t0) / 2


def test_feed_rows_from_streaming_progress(tmp_path):
    """Micro-batch input rows come from the progress events (fields as a
    ``replicate_snapshot`` drain logs them), counted inside op spans only."""
    log = tmp_path / "eventlog"
    with open(log, "w") as f:
        for ts, rows in (("2024-03-01T00:00:01.500Z", 700), ("2024-03-01T00:00:09.000Z", 4100)):
            f.write(json.dumps({"Event": tracing.PROGRESS_EVENT, "progress": {
                "batchId": 1, "timestamp": ts, "sources": [{"numInputRows": rows}]}}) + "\n")
    ev = tracing.parse_event_log(str(log))
    t0 = ev["batches"][0]["time"]
    assert t0 == 1709251201.5 and [b["rows"] for b in ev["batches"]] == [700, 4100]
    op = tracing.Span(0, "op:delta_cycle", None, 1)
    op.start, op.end = t0 - 1, t0 + 1
    assert tracing.feed_rows(ev["batches"], [op]) == 700


def test_covered_merges_overlaps():
    assert tracing._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing._covered([(0, 2)], 1, 10) == 1


def test_self_time_subtracts_children():
    a, b = tracing.Span(0, "queries.build", None, 1), tracing.Span(1, "catalog.load_table", 0, 1)
    a.start, a.end, b.start, b.end = 0.0, 1.0, 0.2, 0.5
    assert tracing.self_times([a, b]) == pytest.approx({"queries.build": 0.7, "catalog.load_table": 0.3})


def _ingest_files(tmp, seed: int) -> str:
    lake = os.path.join(tmp, "lake")
    if not os.path.exists(lake):
        gen.write_lake(lake, 0.001)
    out = os.path.join(tmp, f"ingest-{seed}-{len(os.listdir(tmp))}")
    g = gen.IngestInputs(seed, os.path.join(lake, "orders.parquet"), out, 500, 50)
    for c, restate in enumerate([False, True, False]):
        g.events(c)
        g.change(c, restate)
    return out


def test_same_seed_gives_byte_identical_ingest_inputs(tmp_path):
    a = _ingest_files(str(tmp_path), 3)
    b = _ingest_files(str(tmp_path), 3)
    c = _ingest_files(str(tmp_path), 4)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 6
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert filecmp.cmpfiles(a, c, names, shallow=False)[1], "another seed changes the inputs"
