"""Spans around the calls into each package layer, and Spark's event log.

The tracer wraps public functions of the package modules (the layers)
from the benchmark's own code: it replaces the module attribute with a
timing wrapper *before* any module that imports the function by name is
loaded, so every call site goes through it. Spans are kept in memory and
written out when the run ends. Each span has a name, start, end, parent
and op id; a layer's self time is its span minus its child spans.

The Spark side comes from the local event log (plain JSON lines, one
file): per job its group tag, submission and completion time; per task
its run time, CPU time, GC time, shuffle, spill and I/O bytes; per
streaming micro-batch its trigger time and input rows.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import time
from collections import defaultdict

#: functions wrapped in a traced run, by layer (module under the package).
#: The harness's own phase spans cover the rest of each layer.
WRAPPED = {
    "catalog": ["load_table"],
    "runtime": ["spread_scan", "truncate_lineage"],
    "sources.snapshots": [
        "write_snapshot", "merge_into_snapshot_delta", "delete_where",
        "compact_small_dirs", "read_snapshot",
    ],
}

#: snapshot calls that commit a new table version
COMMITS = frozenset(
    f"sources.snapshots.{f}"
    for f in ("write_snapshot", "merge_into_snapshot_delta", "delete_where", "compact_small_dirs")
)


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "sid", "attrs")

    def __init__(self, sid, name, parent, op, attrs=None):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start, self.end, self.attrs = time.time(), None, attrs or {}

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "op": self.op,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost
    one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []  # one client: a single global stack
        self.op = None

    def begin(self, name: str, **attrs) -> Span | None:
        """Open a span inside the current op; outside an op (set-up,
        warm-up, output checks) nothing is recorded."""
        if not self.enabled or self.op is None:
            return None
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, parent, self.op, attrs)
        self.spans.append(s)
        self.stack.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        while self.stack and self.stack.pop() is not s:
            pass

    def install(self, pkg: str) -> None:
        """Wrap every function in :data:`WRAPPED`. Must run before the
        package's ``queries`` and ``plans`` modules are imported."""
        if not self.enabled:
            return
        import importlib

        for layer, fns in WRAPPED.items():
            mod = importlib.import_module(f"{pkg}.{layer}")
            for fn in fns:
                setattr(mod, fn, self._wrap(f"{layer}.{fn}", getattr(mod, fn)))

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            s = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(s)

        return inner

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def commit_s(spans: list[Span]) -> float:
    """Seconds in snapshot commits, counting a commit made inside another
    commit once."""
    names = {s.sid: s.name for s in spans}
    return sum(
        s.end - s.start for s in spans
        if s.name in COMMITS and names.get(s.parent) not in COMMITS
    )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None and s.end is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.end is not None:
            out[s.name] += max(0.0, (s.end - s.start) - child[s.sid])
    return dict(out)


# -- event log ---------------------------------------------------------------

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def parse_event_log(path: str) -> dict:
    """Jobs, per-job task totals and streaming micro-batches from one
    plain JSON-lines event log.

    Returns ``{"jobs": {job_id: {...}}, "batches": [...]}``. Each job
    carries its ``group`` (``spark.jobGroup.id``), ``submit``/``end``
    (epoch seconds), stage and task counts, and summed task metrics. Each
    streaming micro-batch carries its trigger ``time`` (epoch seconds) and
    its source ``rows`` (``numInputRows``: every scan of the batch counts,
    so a batch its sink scans twice counts twice).
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    batches: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == PROGRESS_EVENT:
                p = ev["progress"]
                batches.append({
                    "time": dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp(),
                    "rows": sum(src.get("numInputRows", 0) for src in p.get("sources", [])),
                })
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                stages = ev.get("Stage IDs", [])
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None, "stages": 0, "tasks": 0,
                    "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                    "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    "input": 0, "output": 0,
                }
                for st in stages:
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                j["gc_ms"] += m.get("JVM GC Time", 0)
                j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                j["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                j["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {"jobs": jobs, "batches": batches}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def assign_jobs(jobs: dict, op_spans: list[Span]) -> dict[int, list[dict]]:
    """Jobs per op id. A job tagged ``op<id>:<phase>`` belongs to that op;
    an untagged or foreign-tagged job (e.g. a streaming micro-batch,
    which runs under the stream's own group) belongs to the op whose
    span contains its submission time."""
    by_op: dict[int, list[dict]] = defaultdict(list)
    windows = sorted((s.start, s.end, s.op) for s in op_spans)
    for j in jobs.values():
        g = j["group"] or ""
        if g.startswith("op") and ":" in g:
            by_op[int(g[2:].split(":")[0])].append(j)
            continue
        for a, b, op in windows:
            if a <= j["submit"] <= b:
                by_op[op].append(j)
                break
    return by_op


def feed_rows(batches: list[dict], op_spans: list[Span]) -> int:
    """Source rows of the streaming micro-batches triggered inside a
    measured op (warm-up batches fall outside every op span)."""
    return sum(
        b["rows"] for b in batches
        if any(s.start <= b["time"] <= s.end for s in op_spans)
    )


def spark_metrics(jobs_by_op: dict[int, list[dict]], op_spans: list[Span], cores: int) -> dict:
    """Per-op means of the engine metrics over the measured ops."""
    n = max(1, len(op_spans))
    tot = defaultdict(float)
    for s in op_spans:
        js = jobs_by_op.get(s.op, [])
        wall = s.end - s.start
        tot["wall"] += wall
        busy = [(j["submit"], j["end"] or s.end) for j in js]
        tot["gap"] += wall - _covered(busy, s.start, s.end)
        tot["jobs"] += len(js)
        tot["jvm_gc_ms"] += s.attrs.get("gc_ms", 0)
        for j in js:
            for k in ("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                      "shuffle_write", "spill", "input", "output"):
                tot[k] += j[k]
    return {
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["jvm_gc_ms"] / 1e3 / n,
        "spark.task_gc_s": tot["gc_ms"] / 1e3 / n,
        "spark.core_util": tot["run_ms"] / 1e3 / (tot["wall"] * cores) if tot["wall"] else 0.0,
        "spark.driver_gap_s": tot["gap"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.input_bytes": tot["input"] / n,
        "spark.output_bytes": tot["output"] / n,
    }


def jobs_in(spans: list[Span], jobs_by_op: dict[int, list[dict]], name: str) -> int:
    """Jobs submitted while a span called ``name`` was open (inclusive of
    its children)."""
    n = 0
    for s in spans:
        if s.name == name and s.end is not None:
            n += sum(1 for j in jobs_by_op.get(s.op, []) if s.start <= j["submit"] <= s.end)
    return n


#: layers in the report, matched by span-name prefix (longest wins); the
#: op root spans and anything else count as the harness
LAYERS = ("catalog", "queries", "runtime", "plans", "sources.snapshots",
          "sources.cdf", "consumer.read")


def layer_of(span_name: str) -> str:
    matches = [layer for layer in LAYERS if span_name.startswith(layer)]
    return max(matches, key=len) if matches else "harness"


def layer_table(spans: list[Span], jobs_by_op: dict, selfs: dict, cores: int, n_ops: int) -> dict:
    """Per layer, per measured op: self time, jobs (by the innermost span
    open at submission), executor run time, core utilization over the
    layer's self time, and shuffle bytes."""
    rows = defaultdict(lambda: defaultdict(float))
    for name, t in selfs.items():
        rows[layer_of(name)]["self_s"] += t
    by_op_spans = defaultdict(list)
    for s in spans:
        by_op_spans[s.op].append(s)
    for op, js in jobs_by_op.items():
        cands = by_op_spans.get(op, [])
        for j in js:
            inner = None
            for s in cands:
                if s.start <= j["submit"] <= s.end and (inner is None or s.start >= inner.start):
                    inner = s
            r = rows[layer_of(inner.name) if inner else "harness"]
            r["jobs"] += 1
            r["executor_run_s"] += j["run_ms"] / 1e3
            r["shuffle_bytes"] += j["shuffle_read"] + j["shuffle_write"]
    out = {}
    for layer, r in rows.items():
        out[layer] = {
            "self_s": r["self_s"] / n_ops,
            "jobs": r["jobs"] / n_ops,
            "executor_run_s": r["executor_run_s"] / n_ops,
            "core_util": r["executor_run_s"] / (r["self_s"] * cores) if r["self_s"] else 0.0,
            "shuffle_bytes": r["shuffle_bytes"] / n_ops,
        }
    return out


def render_report(workload: str, table: dict, m: dict) -> str:
    """The layer report of one traced run, as markdown."""
    lines = [
        f"## {workload}: self time per layer, per op", "",
        "| layer | self s | jobs | executor run s | core util | shuffle bytes |",
        "|---|---:|---:|---:|---:|---:|",
    ]
    for layer, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(
            f"| {layer} | {r['self_s']:.4f} | {r['jobs']:.2f} | {r['executor_run_s']:.4f} "
            f"| {r['core_util']:.1%} | {r['shuffle_bytes']:.0f} |"
        )
    wall = sum(r["self_s"] for r in table.values())
    gap = m["spark.driver_gap_s"]
    lines += [
        "",
        f"- op wall (traced): {wall:.4f} s; no Spark job running for {gap:.4f} s "
        f"({gap / wall:.0%} of it) — driver-side time",
        f"- executor run time {m['spark.executor_run_s']:.4f} core-s per op; "
        f"core utilization {m['spark.core_util']:.1%}",
        f"- jobs {m['spark.jobs']:.2f}, stages {m['spark.stages']:.2f}, tasks "
        f"{m['spark.tasks']:.1f} per op",
        "",
    ]
    return "\n".join(lines)
