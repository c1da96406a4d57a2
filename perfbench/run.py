"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client runs the workload's ops in a
closed loop on ``local[<cores>]``: whole passes over the op list, each in
an order shuffled from the seed, until ``--seconds`` have been measured
and at least the workload's ``min_passes`` are done.
The last stdout line is the result JSON; the line before it is the run's
detail (sample counts, percentiles, per-op walls, layer metrics).

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` turns on the layer spans and Spark's event log and
reports the per-layer metrics; it writes the spans and a layer report
under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "data_engineering_etl_self_service_spark"

#: setup rounds per run; setup_s reports their median (plus the warm-up)
SETUP_ROUNDS = 3

#: wall of ``round_trips`` on a quiet host of the machine the README's
#: figures come from; latency-scaled times are quoted at this latency
ROUND_TRIPS_REF_S = 0.008
#: the end-to-end times a latency-scaled workload reports scaled
SCALED = ("pass_s", "op_p50_s", "op_tail_s", "read_p50_s")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it
    by nearest rank (p66 of 30 samples, p90 of 100). With ten samples or
    fewer no percentile has, so p90 is reported with its sample count."""
    return int(100 * (n - 10) / n) if n > 10 else 90


class Harness:
    """Times phases, tags their Spark jobs (``op<id>:<phase>``), opens
    their spans and keeps the layer counters of a run."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.walls: dict[str, float] = {}
        self.phase_walls: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, float] = defaultdict(float)
        self.op_id = 0
        self.cache_after: list[int] = []

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one phase of the current op. Outside an op (warm-up) the
        phase is timed but neither tagged nor kept."""
        measured = self.tracer.op is not None
        sc = self.spark.sparkContext
        if measured:
            sc.setJobGroup(f"op{self.op_id}:{name}", name)
        s = self.tracer.begin(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = time.perf_counter() - t0
            self.tracer.end(s)
            if measured:
                self.phase_walls[name].append(self.walls[name])
                sc.setJobGroup("harness", "harness")

    def cache_entries(self) -> int:
        """CacheManager entries plus persistent RDDs of the session."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        n_cached = 0
        if not cm.isEmpty():
            field = cm.getClass().getDeclaredField("cachedData")  # no public count
            field.setAccessible(True)
            n_cached = field.get(cm).size()
        return n_cached + self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def clean(self) -> None:
        """Drop every cached plan and persisted RDD, so no op reuses
        state an earlier op left behind."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)


def start_session(cores: int, work: str, trace: bool):
    from data_engineering_etl_self_service_spark import get_spark

    conf = {
        "spark.driver.memory": "4g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Stop Spark and the JVM behind it, and wait for the JVM to exit (it
    leaves when its stdin closes); its Python workers go with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def round_trips(spark) -> float:
    """Wall of 100 Python-to-JVM calls of a static JVM method: the thread
    wake-up latency of the host at this moment, which no program change
    moves."""
    clock = spark._jvm.java.lang.System
    t0 = time.perf_counter()
    for _ in range(100):
        clock.nanoTime()
    return time.perf_counter() - t0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far (all CPUs);
    a run whose steal grew was measured on a contended machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def jvm_gc_ms(spark) -> int:
    """Collection time of the driver JVM so far (it hosts the executors
    in local mode). The event log's task GC time counts a pause once per
    task it stalls and misses pauses between tasks."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def benchmark_spec() -> dict:
    """``BENCHMARK.json``: the metric names a run reports, with units."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def make_workload(name: str, seed: int, sf: float):
    import workloads as W

    if name == "analyst_queries":
        return W.QueryWorkload(name, W.ANALYST_OPS, sf, latency_scaled=True)
    if name == "curation_batch":
        return W.QueryWorkload(name, W.CURATION_OPS, sf)
    if name == "lake_ingest_cdc":
        return W.IngestWorkload(name, seed, sf)
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="scale factor override (tests)")
    args = ap.parse_args()
    trace = bool(args.trace)

    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    try:
        import data_engineering_etl_self_service_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        log(f"cannot import the program ({e}); run from the repository root")
        return 2
    # Python UDF workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")]))
    os.environ["TZ"] = "UTC"
    time.tzset()
    out_root = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(out_root, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # shuffle and block files
    # no hsperfdata file under the system temp dir, for every JVM spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))

    import tracing as T

    tracer = T.Tracer(trace)
    tracer.install(PKG)  # before queries/plans import the wrapped names
    cores = len(os.sched_getaffinity(0))
    import workloads

    wl = make_workload(args.workload, args.seed, args.sf or workloads.SF)
    # a SIGTERM (e.g. from `timeout`) unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, wl, tracer, work, out_root, cores, T)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, tracer, work, out_root, cores, T) -> int:
    trace = bool(args.trace)
    # -- setup: session start + input generation, SETUP_ROUNDS times --
    rounds, spark = [], None
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(cores, work, trace)
        wl.inputs(os.path.join(work, f"in{r}"))
        rounds.append(time.perf_counter() - t0)
    h = Harness(spark, tracer)
    t0 = time.perf_counter()
    wl.warm(h)  # no op is open, so nothing is traced
    warm_s = time.perf_counter() - t0
    h.counters.clear()
    setup_s = statistics.median(rounds) + warm_s
    log(f"setup rounds {[round(x, 3) for x in rounds]} warm-up {warm_s:.3f}s")

    # -- measured closed loop --
    rng = random.Random(args.seed)
    passes, op_walls, reads, per_op, in_pass = [], [], [], defaultdict(list), defaultdict(list)
    attempted = failed = 0
    failures = []
    op_spans = []
    probes = []
    steal0 = cpu_steal_s()
    t_start = time.perf_counter()
    while len(passes) < wl.min_passes or time.perf_counter() - t_start < args.seconds:
        order = list(wl.ops)
        rng.shuffle(order)
        pass_s = 0.0
        for name in order:
            h.cache_after.append(h.cache_entries())
            h.clean()
            probes.append(round_trips(h.spark))
            prep = wl.prepare(name)
            h.op_id += 1
            tracer.op = h.op_id
            root = tracer.begin(f"op:{name}")
            gc0 = jvm_gc_ms(h.spark) if root else 0
            try:
                r = wl.run_op(h, name, prep)
            except Exception as e:  # a raising op counts as failed, the run goes on
                msg = f"raised {type(e).__name__}: {e}"
                r = {"wall": None, "read": None, "check": lambda: msg}
            tracer.end(root)
            tracer.op = None
            if root:
                root.attrs["gc_ms"] = jvm_gc_ms(h.spark) - gc0
            try:
                r["error"] = r["check"]()
            except Exception as e:
                r["error"] = f"check raised {type(e).__name__}: {e}"
            if root is not None:
                op_spans.append(root)
            attempted += 1
            if r["error"]:
                failed += 1
                failures.append(f"{name}: {r['error']}"[:500])
                log(f"FAILED {name}: {r['error']}"[:500])
            if r["wall"] is not None:
                op_walls.append(r["wall"])
                reads.append(r["read"])
                per_op[name].append(r["wall"])
                in_pass[name].append(r["wall"] + (r["read"] if wl.name == "lake_ingest_cdc" else 0.0))
                pass_s += in_pass[name][-1]
        passes.append(pass_s)
        log(f"pass {len(passes)}: {pass_s:.3f}s")
    measured_s = time.perf_counter() - t_start
    steal_s = cpu_steal_s() - steal0
    h.cache_after.append(h.cache_entries())
    bytes_per_row = wl.lake_bytes_per_live_row()

    tail_p = tail_percentile(len(op_walls))
    measured = {
        "setup_s": setup_s,
        # the median pass: each op's median share of a pass, summed, so
        # one slow op in one pass does not move it
        "pass_s": sum(statistics.median(v) for v in in_pass.values()),
        "op_p50_s": statistics.median(op_walls),
        "op_tail_s": percentile(op_walls, tail_p),
        "read_p50_s": statistics.median(reads),
        "lake_bytes_per_live_row": bytes_per_row,
    }
    # A latency-scaled workload's walls are chains of Python-to-JVM
    # round trips and tiny jobs; on a shared host they grow with the
    # host's wake-up latency, which the probe before each op measures.
    scale = ROUND_TRIPS_REF_S / statistics.median(probes) if wl.latency_scaled else 1.0
    e2e = {k: v * scale if k in SCALED else v for k, v in measured.items()}
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": int(trace), "cores": cores,
        "sf": wl.sf, "measured_s": measured_s, "cpu_steal_s": steal_s, "passes": len(passes),
        "pass_walls_s": passes,
        "samples": {"pass_s": len(passes), "op": len(op_walls), "read": len(reads)},
        "op_tail_percentile": tail_p,
        "round_trips_median_s": statistics.median(probes), "latency_scale": scale,
        "unscaled": {k: measured[k] for k in SCALED},
        "failed_ops_frac": failed / max(1, attempted),
        "jvm_peak_rss_mb": jvm_peak_rss_mb(h.spark),
        "failures": failures,
        "setup_rounds_s": rounds, "warm_s": warm_s,
        "per_op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
        "per_op_s": dict(sorted(per_op.items())),
        "per_phase_median_s": {k: statistics.median(v) for k, v in sorted(h.phase_walls.items())},
    }
    spec = benchmark_spec()
    if trace:
        layer, detail["layers"] = _layer_metrics(h, tracer, wl, op_spans, cores, out_root, args, T)
        detail["end_to_end"] = e2e
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _layer_metrics(h, tracer, wl, op_spans, cores, out_root, args, T):
    """Per-layer metrics of a traced run (per measured op unless named
    otherwise), plus the detail and report written beside the spans."""
    sc = h.spark.sparkContext
    app = sc.applicationId
    log_dir = h.spark.conf.get("spark.eventLog.dir")
    h.spark.stop()
    log_path = os.path.join(log_dir.replace("file:", ""), app)
    ev = T.parse_event_log(log_path)
    by_op = T.assign_jobs(ev["jobs"], op_spans)
    spans = [s for s in tracer.spans if s.op is not None and s.end is not None]
    n = max(1, len(op_spans))
    selfs = T.self_times(spans)
    calls = defaultdict(int)
    incl = defaultdict(float)
    for s in spans:
        calls[s.name] += 1
        incl[s.name] += s.end - s.start
    c = h.counters
    m = {
        "catalog.load_table_calls": calls["catalog.load_table"] / n,
        "catalog.load_table_s": incl["catalog.load_table"] / n,
        "queries.build_s": incl["queries.build"] / n,
        "queries.build_jobs": T.jobs_in(spans, by_op, "queries.build") / n,
        "queries.exec_s": incl["queries.exec"] / n,
        "queries.exec_jobs": T.jobs_in(spans, by_op, "queries.exec") / n,
        "runtime.spread_scan_calls": calls["runtime.spread_scan"] / n,
        "runtime.spread_scan_s": incl["runtime.spread_scan"] / n,
        "runtime.spread_scan_jobs": T.jobs_in(spans, by_op, "runtime.spread_scan") / n,
        "runtime.truncate_lineage_calls": calls["runtime.truncate_lineage"] / n,
        "runtime.truncate_lineage_s": incl["runtime.truncate_lineage"] / n,
        "session.cache_entries_after_op": statistics.mean(h.cache_after[1:]) if len(h.cache_after) > 1 else 0.0,
        "plans.compile_s": incl["plans.compile"] / n,
        "plans.plan_s": c["plans.plan_s"] / n,
        "plans.checks_s": c["plans.checks_s"] / n,
        "plans.write_s": c["plans.write_s"] / n,
        "plans.rows_published_frac": c["plans.rows_published"] / c["plans.rows_in"] if c["plans.rows_in"] else 0.0,
        "sources.snapshots.commit_s": T.commit_s(spans) / n,
        "sources.snapshots.bytes_per_changed_row": c["snapshots.bytes_written"] / c["snapshots.changed_rows"] if c["snapshots.changed_rows"] else 0.0,
        "sources.snapshots.files_per_commit": c["snapshots.new_files"] / c["snapshots.commits"] if c["snapshots.commits"] else 0.0,
        "sources.snapshots.read_s": incl["sources.snapshots.read_snapshot"] / n,
        "sources.cdf.replicate_s": incl["sources.cdf.replicate"] / n,
        "sources.cdf.feed_rows_per_changed_row": T.feed_rows(ev["batches"], op_spans) / c["cdf.changed_rows"] if c["cdf.changed_rows"] else 0.0,
        **T.spark_metrics(by_op, op_spans, cores),
    }
    layers = T.layer_table(spans, by_op, selfs, cores, n)
    os.makedirs(os.path.join(out_root, "out"), exist_ok=True)
    stem = os.path.join(out_root, "out", f"{wl.name}-seed{args.seed}")
    tracer.write(stem + "-spans.jsonl")
    with open(stem + "-layers.md", "w") as f:
        f.write(T.render_report(wl.name, layers, m))
    log(f"spans: {stem}-spans.jsonl  report: {stem}-layers.md")
    sys.stderr.write(T.render_report(wl.name, layers, m))
    return m, {"all": m, "table": layers}


if __name__ == "__main__":
    sys.exit(main())
