"""Runtime policies shared across operators — lineage truncation and
the driver-tier budget.

Iterative operators (connected components, PageRank/BFS/k-core loops,
BPE merge rounds, greedy selection) re-materialize their carried
DataFrame per round so the analyzed plan cannot double with iteration
count (the r11 sf0.1 sweep's failure class). The default tool is
``localCheckpoint``: blocks live on executors, no configured directory
needed, and on a QUERY path an executor loss just fails the query —
the caller re-runs it, which recomputes from the source (the retry
contract; maintenance paths that mutate table state use parquet spills
instead, see ``sources/snapshots.py``).

On a real multi-executor cluster that retry contract may be too weak
for long iterative jobs: losing one executor mid-iteration 17 discards
the whole run. Round 12 (VERDICT r11 advisory #2) adds the RELIABLE
option — set

    spark.conf.set("spark.data_engineering_etl.checkpoint.reliable", "true")
    spark.conf.set("spark.data_engineering_etl.checkpoint.dir", "hdfs://.../ckpt")

(or call ``spark.sparkContext.setCheckpointDir`` yourself and set only
the flag) and every truncation site switches to ``checkpoint()``: the
materialized blocks go to the checkpoint directory's fault-tolerant
storage, so executor loss costs a re-read, not the job. The flag is
read per call, so tests and notebooks can flip it mid-session.

The module also owns the DRIVER-TIER budget. Iterative operators whose
input is routinely dimension-table-sized (graph rounds, BPE merges,
k-means fit, NTILE ranks, union-find) run their rounds in exact Python
on the driver when the input has at most ``DRIVER_TIER_ROWS`` rows —
each distributed round otherwise costs a full Spark job. Every such
site goes through :func:`collect_if_small`, which persists the input,
probes ``DRIVER_TIER_ROWS + 1`` rows and either returns them (and
releases the cache) or hands the distributed path an eager checkpoint
read from the persisted partitions (and releases the cache after it).
No path recomputes the probe's upstream and no path leaves a cache
behind. There is no conf for the budget: tests force the distributed
path by patching ``runtime.DRIVER_TIER_ROWS`` (0 probes one row and
falls back on any non-empty input, the 100 TB shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RELIABLE_FLAG = "spark.data_engineering_etl.checkpoint.reliable"
CHECKPOINT_DIR = "spark.data_engineering_etl.checkpoint.dir"

#: Driver-tier budget shared by every size-gated iterative operator: at
#: or below this many input rows the rounds run in exact Python on the
#: driver (identical arithmetic and tie-breaks, parity pinned per site
#: in the tests). 64 Ki rows of ids, (word, count) pairs or quantized
#: vectors is the bounded-driver-artifact class of pagerank's n_nodes
#: or k-means' centroids; sites whose rows can be wide add their own
#: byte ceiling through ``collect_if_small``'s ``fits`` predicate.
DRIVER_TIER_ROWS = 65536


def truncate_lineage_lazy(df: DataFrame) -> DataFrame:
    """:func:`truncate_lineage` with ``eager=False`` — the analyzed
    plan truncates NOW (same plan-growth guarantee) but materialization
    rides the next action instead of costing its own Spark job. The
    in-loop form for iterative operators whose round already ends in an
    action (a convergence collect) or whose rounds are bounded and
    tiny: per round, one job instead of two (opt r12). Keep the EAGER
    form wherever caches are unpersisted right after truncation — a
    lazy checkpoint materialized later would recompute the dropped
    upstream."""
    return truncate_lineage(df, eager=False)


def spread_scan(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Raise scan parallelism to the session's core count before a
    CPU-heavy per-row stage — identity whenever the input already has
    at least ``defaultParallelism`` partitions.

    A single small parquet file (one row group) arrives as ONE input
    split, which serializes every downstream narrow stage — including
    the Arrow-batched Python decode passes, the engine's heaviest
    per-row CPU — on one core no matter how many the session has
    (guide §2: the distributed algorithm first; §6: a split can never
    be finer than a row group). At 100 TB a table is thousands of row
    groups and this helper returns ``df`` unchanged, so the
    codec-query plans stay zero-exchange at scale (the property
    test_codec_queries_* pins); at bench/test scale it inserts one
    tiny exchange of the scan's (pruned) columns and buys back the
    other N-1 cores for the decode stage.

    ``key_col``: hash-partition on this column (deterministic
    placement under task retry — guide §2.5's rand-repartition
    hazard); default round-robin is also retry-safe (Spark sorts
    before round-robin) but pays that local sort.

    Probe order (opt r13 — VERDICT r12 #7 / ADVICE r12): a file-rooted
    frame whose leaf scans already list >= ``defaultParallelism``
    FILES short-circuits to identity from ``df.inputFiles()`` alone —
    the cached FileIndex listing, no physical-plan compile, so the
    at-scale (many-file) path never pays the second plan compilation
    the old ``df.rdd`` probe cost per call site. Only frames below
    that bound (bench-scale single-file scans, non-file test frames)
    still pay the ``df.rdd.getNumPartitions()`` probe, which remains
    the authority on split count (one big file may still split into
    enough partitions — repartitioning would REDUCE parallelism
    there). Callers pass scan-rooted or otherwise cheap frames: the
    rdd probe of a frame containing exchanges can force upstream
    query-stage execution under AQE.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_col is not None:
        return df.repartition(target, F.col(key_col))
    return df.repartition(target)


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage/analyzed plan.

    Default: ``localCheckpoint`` (executor-memory blocks; query-retry
    contract). With ``spark.data_engineering_etl.checkpoint.reliable``
    set true: ``checkpoint`` against the configured directory
    (fault-tolerant storage; survives executor loss). Use via
    ``df.transform(truncate_lineage)`` so call sites stay chainable.
    """
    spark = df.sparkSession
    if str(spark.conf.get(RELIABLE_FLAG, "false")).lower() == "true":
        cdir = spark.conf.get(CHECKPOINT_DIR, None)
        sc = spark.sparkContext
        if cdir:
            # setCheckpointDir mints a fresh UUID subdir per call, so
            # only re-point when the CONFIGURED value changed (tracked
            # on the context — getCheckpointDir returns the resolved
            # UUID path, never the configured one)
            if getattr(sc, "_etl_configured_ckpt_dir", None) != cdir:
                sc.setCheckpointDir(cdir)
                sc._etl_configured_ckpt_dir = cdir
        elif sc.getCheckpointDir() is None:
            raise ValueError(
                f"{RELIABLE_FLAG} is true but no checkpoint directory "
                f"is configured — set {CHECKPOINT_DIR} or call "
                "spark.sparkContext.setCheckpointDir() first (reliable "
                "checkpoints need fault-tolerant storage)"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def collect_if_small(df: DataFrame, fits=None):
    """The driver-tier probe: ``(rows, None)`` when ``df`` has at most
    ``DRIVER_TIER_ROWS`` rows and ``fits(rows)`` holds (or ``fits`` is
    None), else ``(None, frame)``.

    ``df`` is persisted for the probe. On the driver path it is
    released before returning. On the distributed path ``frame`` is
    ``df`` eagerly truncated (:func:`truncate_lineage`), materialized
    from the persisted partitions, and ``df`` is released only after
    that — so the probe's upstream runs once on either path and the
    caller owns no cache."""
    df = df.persist()
    rows = df.take(DRIVER_TIER_ROWS + 1)
    if len(rows) <= DRIVER_TIER_ROWS and (fits is None or fits(rows)):
        df.unpersist()
        return rows, None
    frame = df.transform(truncate_lineage)
    df.unpersist()
    return None, frame
