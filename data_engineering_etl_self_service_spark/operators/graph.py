"""Iterative graph algorithms over edge DataFrames: weighted PageRank.

North-star operator (no counterpart in the reference — the graph-centrality
signal a training-data pipeline uses for source/domain quality weighting,
in the spirit of the quality priors used by public web-corpus pipelines).
Complements the connected-components operator in ``dedup.py`` (which finds
equivalence classes) with an IMPORTANCE score over a weighted digraph.

Why FIXED-POINT integer arithmetic: float PageRank sums are
order-dependent, so ranks drift across partitionings and engines, making
the operator untestable against a SQL oracle and non-reproducible. Here
every quantity is an exact BIGINT:

- ranks live on a 1e9 fixed-point scale (``SCALE``);
- each edge contributes ``floor(rank_src * w / out_w_src)`` — computed as
  ``(rank DIV outw) * w + ((rank MOD outw) * w) DIV outw`` so the
  intermediate product stays under 2^63 whenever ``w * SCALE < 2^63``
  (per-edge weights up to ~9e9 are safe);
- the damping mix is ``base + (d_num * incoming) DIV d_den`` with
  ``base = (SCALE * (d_den - d_num)) DIV (d_den * n_nodes)``.

Integer division uses Spark's ``DIV`` / DuckDB's ``//``; all operands are
non-negative so truncation == floor on both engines. Dangling-node mass
(nodes with no out-edges) is dropped, not redistributed — documented,
deterministic, and the standard simplification when ranks are only used
as a relative ordering signal.

Execution shape (designed for 100 TB):

- The edge list is aggregated ONCE (``groupBy(src, dst).sum(w)``) — the
  only data-sized shuffle. Everything after runs on the aggregated graph.
- Out-degree weights are joined into the edge list once and cached.
- Per iteration: one broadcast join (ranks are |V| rows — nations, domains,
  hosts — orders of magnitude smaller than the edge list) + one
  ``groupBy(dst)`` with map-side combine over |E| aggregated edges.
- Ranks are checkpointed to driver-free storage only implicitly: the rank
  DataFrame is re-materialized per iteration via ``localCheckpoint`` to
  truncate lineage, exactly like the label-propagation loop in
  ``dedup.py`` — iteration T does not recompute iterations 1..T-1.
- ``n_nodes`` is the single driver-side scalar (one count), a bounded
  artifact like the convergence sums in ``dedup.py:563``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..runtime import collect_if_small, truncate_lineage, truncate_lineage_lazy

SCALE = 1_000_000_000  # 1e-9 fixed point for ranks


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    n_iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_every: int = 5,
    driver_edges_max: int = 1_000_000,
    broadcast_nodes_max: int = 10_000_000,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, exact fixed-point.

    ``edges`` may contain duplicate (src, dst) pairs; weights are summed.
    Returns one row per node: ``node``, ``rank`` (BIGINT on the 1e9
    scale; ranks of all nodes sum to <= SCALE, with dangling/rounding
    mass dropped).

    Two execution tiers, chosen by the AGGREGATED edge count (the
    data-sized part — the raw fan-in — is distributed in both):

    - **Driver tier** (|E_agg| <= ``driver_edges_max``): the aggregated
      graph is collected once and all iterations run in exact Python
      integers — zero Spark jobs per iteration. This is the k-means
      centroids-on-the-driver pattern, and covers the common
      quality-prior graphs (nation/source/domain level), where the
      iterative state is thousands of rows distilled from terabytes.
    - **Distributed tier**: ranks stay a DataFrame; each iteration is a
      join of |V| ranks against the cached edge list plus a
      map-side-combined groupBy. The join strategy is picked by
      ``n_nodes`` (a scalar already computed for the damping base):
      up to ``broadcast_nodes_max`` the rank table is broadcast (the
      domain/host-graph case — |V| ≪ |E|, zero shuffle of the edge
      list); above it — a web-scale node set that would blow the
      broadcast limit — the hint is omitted and Spark shuffles BOTH
      sides on ``src``, which AQE can further re-plan. Both paths
      compute the identical integer recurrence (parity-pinned by
      ``tests/test_graph.py``). ``checkpoint_every`` bounds lineage
      depth (eager ``localCheckpoint`` every k-th iteration) so long
      convergence runs never build an O(iters)-deep plan, while short
      runs skip the extra materialization jobs entirely.

    Both tiers compute the identical integer recurrence.
    """
    spark = edges.sparkSession
    # The aggregated edge list is the ONLY data-sized computation; persist
    # it first so nodes/out-weights/iterations all reuse one materialization
    # instead of replaying the upstream joins.
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    n_edges = e.count()  # bounded driver scalar; materializes the cache
    if n_edges <= driver_edges_max:
        node_type = dict(e.dtypes)["src"]
        out = _pagerank_driver(
            [(r["src"], r["dst"], r["w"]) for r in e.collect()],
            n_iters, damping_num, damping_den,
        )
        e.unpersist()
        return spark.createDataFrame(
            list(out.items()), schema=f"node {node_type}, rank long"
        )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    ew = e.join(outw, "src")
    n_nodes = nodes.count()
    base = (SCALE * (damping_den - damping_num)) // (damping_den * n_nodes)
    init = SCALE // n_nodes

    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for it in range(n_iters):
        rank_side = ranks.withColumnRenamed("node", "src")
        if n_nodes <= broadcast_nodes_max:
            rank_side = F.broadcast(rank_side)
        contrib = (
            ew.join(rank_side, "src")
            # overflow-safe exact floor((rank * w) / outw)
            .select(
                "dst",
                (
                    F.expr("rank DIV outw") * F.col("w")
                    + F.expr("((rank % outw) * w) DIV outw")
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = nodes.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_num} * coalesce(incoming, 0L))"
                    f" DIV {damping_den}"
                )
            ).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < n_iters:
            ranks = ranks.transform(truncate_lineage_lazy)
    # materialize BEFORE dropping the caches: the returned plan must not
    # recompute the upstream edge aggregation at the caller's first action
    ranks = ranks.transform(truncate_lineage)
    e.unpersist()
    nodes.unpersist()
    return ranks


def _pagerank_driver(
    edges: list[tuple],
    n_iters: int,
    damping_num: int,
    damping_den: int,
) -> dict:
    """Driver tier: the identical integer recurrence over a collected
    (already-aggregated, bounded) edge list — Python ints are arbitrary
    precision, so the DIV/MOD overflow split holds trivially."""
    agg: dict = {}
    for s, d, w in edges:
        agg[(s, d)] = agg.get((s, d), 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    outw: dict = {}
    for (s, _), w in agg.items():
        outw[s] = outw.get(s, 0) + w
    n = len(nodes)
    base = (SCALE * (damping_den - damping_num)) // (damping_den * n)
    rank = {v: SCALE // n for v in nodes}
    for _ in range(n_iters):
        inc = {v: 0 for v in nodes}
        for (s, d), w in agg.items():
            r, o = rank[s], outw[s]
            inc[d] += (r // o) * w + ((r % o) * w) // o
        rank = {
            v: base + (damping_num * inc[v]) // damping_den for v in nodes
        }
    return rank


def pagerank_oracle_sql(
    edges_cte: str,
    n_iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """Unrolled ANSI-SQL twin of :func:`pagerank_fixedpoint`.

    ``edges_cte`` must define columns (src, dst, w) with w already
    aggregated per (src, dst). Returns a query yielding (node, rank).
    """
    d = damping_den - damping_num
    ctes = [
        f"e AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"""r0 AS (
      SELECT node, CAST({SCALE} AS BIGINT) // nn.n AS rank
      FROM nodes CROSS JOIN nn)""",
    ]
    for i in range(n_iters):
        ctes.append(
            f"""c{i} AS (
      SELECT e.dst,
             SUM((r.rank // o.outw) * e.w
                 + ((r.rank % o.outw) * e.w) // o.outw) AS incoming
      FROM e JOIN r{i} r ON e.src = r.node JOIN outw o ON e.src = o.src
      GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
      SELECT n.node,
             CAST((CAST({SCALE} AS BIGINT) * {d})
                    // ({damping_den} * nn.n)
                  + ({damping_num} * COALESCE(c.incoming, 0))
                    // {damping_den} AS BIGINT) AS rank
      FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON n.node = c.dst)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, rank FROM r{n_iters}"
    )


# ---------------------------------------------------------- triangles


def _oriented_edges(
    edges: DataFrame,
    node_a: str,
    node_b: str,
    normalized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(src, dst, kdst) edges oriented low-(degree, id) -> high, plus the
    persisted normalized edge table (caller must unpersist it once the
    oriented plan has been materialized).

    Normalizes direction/duplicates/self-loops away, computes degrees in
    one agg, and orients each edge from its lower-(deg, id) endpoint —
    the degree-ordering of the MapReduce triangle literature (Suri &
    Vassilvitskii, WWW'11 "Counting Triangles and the Curse of the Last
    Reducer"; Cohen, CiSE'09). Out-degree under this orientation is
    O(sqrt(|E|)), which is what bounds every downstream tier. ``kdst``
    is the (deg, id) struct of the head, kept because wedge pairs must
    be ordered by the SAME total order that oriented the closing edge.
    """
    # e feeds the degree agg (twice, via unionAll) AND the orientation
    # join — persist, or the caller's whole edge-building pipeline
    # re-executes three times. ``normalized=True`` promises the input is
    # already distinct with node_a < node_b, skipping a redundant
    # full-edge shuffle.
    if normalized:
        e = edges.select(
            F.col(node_a).alias("u"), F.col(node_b).alias("v")
        )
    else:
        e = (
            edges.select(F.col(node_a).alias("x"), F.col(node_b).alias("y"))
            .filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
            )
            .distinct()
        )
    e = e.persist()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # degrees are |V|-sized — broadcast both sides so orientation adds no
    # edge-table shuffle
    ed = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    oe = ed.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(ku < kv, kv).otherwise(ku).alias("kdst"),
    )
    return oe, e


def triangle_counts(
    edges: DataFrame,
    node_a: str = "u",
    node_b: str = "v",
    broadcast_adjacency: bool = True,
    normalized: bool = False,
    eager: bool = True,
) -> DataFrame:
    """Per-node triangle participation counts, degree-ordered, two tiers.

    North-star graph primitive (clustering-coefficient numerator; no
    counterpart in the reference): given an undirected edge list, count
    for every node the number of triangles it belongs to. The naive
    3-way self-join enumerates every wedge at every vertex — sum over
    nodes of C(deg, 2); a single hub makes that quadratic. Both tiers
    below first orient edges low-(degree, id) -> high
    (:func:`_oriented_edges`), so each triangle has exactly ONE apex
    with two out-edges and is counted exactly once.

    Tier 1 (default, ``broadcast_adjacency=True``) — adjacency
    intersection: build each node's out-neighbor array (length bounded
    by O(sqrt(|E|)) thanks to the orientation), broadcast the adjacency
    table, and for every oriented edge (u, v) intersect out(u) ∩ out(v)
    map-side — each common neighbor w closes triangle {u, v, w}. ONE
    shuffle total (the adjacency groupBy); the per-edge pass touches
    ~avg-outdeg array cells in-JVM instead of materializing tens of
    millions of wedge rows through an exchange (measured 9 s -> ~2 s on
    the 1.2M-edge sf0.1 co-purchase graph). Premise: the adjacency
    table is |V|-sized — catalogs, domains, hosts — the same premise as
    :func:`pagerank_fixedpoint`'s broadcast ranks. Per-node credit: u
    and v each get |W|; each w gets 1 (explode) — every triangle
    credits its three corners once.

    Tier 2 (``broadcast_adjacency=False``) — wedge join, for graphs
    whose adjacency table exceeds broadcast budgets (web-scale |V|):
    self-join oriented edges on src to enumerate wedges (ordered by the
    orientation key) and close them against the oriented edge list.
    Everything shuffles on node ids; wedge volume is O(|E|^1.5) total
    with hub wedges spread across their low-degree neighbors.

    Input: any DataFrame with two node columns (self-loops dropped,
    direction/duplicates normalized away). Output: (node, n_tri) for
    nodes in >= 1 triangle. Both tiers return identical results.
    """
    # eager=False (plan inspection) keeps the persists — they are lazy and
    # the plan-view DataFrame is never executed, so nothing materializes —
    # but skips the localCheckpoint/unpersist lifecycle: the explain then
    # shows the true runtime shape (InMemoryTableScan reuse), not a
    # misleading cache-free re-derivation.
    oe, e = _oriented_edges(edges, node_a, node_b, normalized=normalized)
    oe = oe.persist()
    if broadcast_adjacency:
        # persist: the SAME adjacency table feeds TWO broadcast builds
        # (u- and v-keyed) — each build is its own driver collect, and
        # without the cache each re-ran the groupBy from oe (opt r13:
        # 3.8-4.0 -> 3.3-3.5 s on the sf0.1 co-purchase graph)
        adj = oe.groupBy("src").agg(
            F.collect_list("dst").alias("nbrs")
        ).persist()
        nu = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
        nv = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
        empty = F.array().cast(dict(adj.dtypes)["nbrs"])
        per_edge = (
            oe.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .join(F.broadcast(nu), "u", "left")
            .join(F.broadcast(nv), "v", "left")
            .select(
                "u",
                "v",
                F.array_intersect(
                    F.coalesce(F.col("nu"), empty),
                    F.coalesce(F.col("nv"), empty),
                ).alias("w"),
            )
            .filter(F.size("w") > 0)
        )
        # ONE pass over per_edge (opt r12): the former 3-way union
        # (u-credits + v-credits + w-explode) inlined the expensive
        # join+intersect subtree three times — every edge paid the
        # adjacency intersection thrice. Credits now assemble as one
        # array expression and explode once; same multiset of
        # (node, c) rows, one intersect per edge.
        credits = per_edge.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("u").alias("node"),
                            F.size("w").cast("long").alias("c"),
                        ),
                        F.struct(
                            F.col("v").alias("node"),
                            F.size("w").cast("long").alias("c"),
                        ),
                    ),
                    F.transform(
                        "w",
                        lambda x: F.struct(
                            x.alias("node"), F.lit(1).cast("long").alias("c")
                        ),
                    ),
                )
            ).alias("cr")
        ).select("cr.node", "cr.c")
        agg = credits.groupBy("node").agg(F.sum("c").alias("n_tri"))
        if not eager:
            return agg
        out = agg.transform(truncate_lineage)
        adj.unpersist()
        oe.unpersist()
        e.unpersist()
        return out
    x, y = oe.alias("x"), oe.alias("y")
    wedges = x.join(
        y,
        (F.col("x.src") == F.col("y.src"))
        & (F.col("x.kdst") < F.col("y.kdst")),
    ).select(
        F.col("x.src").alias("a"),
        F.col("x.dst").alias("b"),
        F.col("y.dst").alias("c"),
    )
    # The closing edge (b, c) is oriented b -> c because kdst_b < kdst_c.
    closing = oe.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    agg = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    if not eager:
        return agg
    out = agg.transform(truncate_lineage)  # materialize so the persist can be released
    oe.unpersist()
    e.unpersist()
    return out


def _driver_frame(spark, rows, node_t, value_col: str) -> DataFrame:
    """(node, <value_col>) frame of a driver-tier result."""
    from pyspark.sql import types as T

    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("node", node_t, False),
                T.StructField(value_col, T.LongType(), False),
            ]
        ),
    )


def _relax_driver(rows, source, rounds) -> list:
    """Round-synchronous min-relaxation in Python ints — the driver
    tier of :func:`bellman_ford`. Each round pushes ``d + w`` from
    every node reached at round START and keeps the per-node MIN —
    exactly the distributed union+groupBy. Node ids may be any type
    (only equality/hashing is used)."""
    adj: dict = {}
    nodes = set()
    for s, d, w in rows:
        nodes.add(s)
        nodes.add(d)
        adj.setdefault(s, []).append((d, int(w)))
    dist = {source: 0} if source in nodes else {}
    for _ in range(rounds):
        new = dict(dist)
        for s, d0 in dist.items():
            for d, w in adj.get(s, ()):
                nd = d0 + w
                if d not in new or nd < new[d]:
                    new[d] = nd
        dist = new
    return [(n, d) for n, d in dist.items()]


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    node_a: str = "u",
    node_b: str = "v",
) -> DataFrame:
    """``rounds`` iterations of k-core peeling (Seidman 1983; the
    Batagelj-Zaversnik peel, truncated): repeatedly drop nodes with
    degree < k and the edges touching them. Converged = the k-core; a
    fixed round count keeps the operator deterministic AND lets a SQL
    oracle unroll the rounds as CTE pairs (the pagerank_fixedpoint
    pattern) — peeling converges in a handful of rounds on real graphs
    because each round removes whole frontier layers.

    Per round: one degree agg (map-side combined) + two semi-joins of
    the edge list against the surviving-node set — everything keyed on
    node ids, no driver-side state; lineage truncated per round
    (localCheckpoint) so round T never replans rounds 1..T-1.

    Returns (node, deg): the nodes still present after ``rounds`` peels
    with their degrees in the surviving subgraph.

    Normalized edge lists within ``runtime.DRIVER_TIER_ROWS`` peel on
    the driver in exact Python integers (identical degree threshold per
    round); larger graphs run the distributed loop.
    """
    e_base = (
        edges.select(F.col(node_a).alias("x"), F.col(node_b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct()
    )
    rows, e = collect_if_small(e_base)
    if rows is not None:
        es = [(r[0], r[1]) for r in rows]
        for _ in range(rounds):
            deg: dict = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            es = [(u, v) for u, v in es if u in keep and v in keep]
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        return _driver_frame(
            edges.sparkSession,
            sorted(deg.items()),
            e_base.schema["u"].dataType,
            "deg",
        )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("n"))
            .unionAll(ed.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for _ in range(rounds):
        keep = degrees(e).filter(F.col("deg") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .transform(truncate_lineage_lazy)
        )
    return degrees(e).select(F.col("n").alias("node"), "deg")


def bfs_hops(
    edges: DataFrame,
    source,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``rounds`` iterations of BFS distance relaxation over a directed
    edge list: min hops from ``source`` to every reachable node (within
    the round budget) — :func:`bellman_ford` over unit-weight edges.
    A fixed round budget = the graph-diameter bound the caller asserts;
    it also keeps the operator unrollable as a SQL oracle.

    Returns (node, hops) for nodes reached within ``rounds``.
    """
    unit = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    return bellman_ford(unit, source, rounds, weight_col="w").select(
        "node", F.col("cost").alias("hops")
    )


def bellman_ford(
    edges: DataFrame,
    source,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "cost",
) -> DataFrame:
    """``rounds`` iterations of WEIGHTED distance relaxation
    (Bellman-Ford): minimum total integer cost from ``source`` within
    the round budget. The Bellman-Ford-style frontier pattern of
    Pregel/GraphX, kept as plain DataFrame ops: per round, reached
    nodes push ``d + cost`` along their out-edges and every node keeps
    its MIN — one broadcast join of the |V|-sized distance table
    against the edge list plus one map-side-combined groupBy per round
    (the pagerank_fixedpoint iteration shape), lineage truncated per
    round. Exact with non-negative integer weights, so the SQL oracle
    unrolls round for round and the result hash-matches. ``rounds``
    bounds path LENGTH (edges), the caller's diameter assertion.

    Returns (node, cost) for nodes reached within ``rounds``.

    Aggregated edge lists within ``runtime.DRIVER_TIER_ROWS`` run the
    rounds on the driver in exact Python integers (identical
    round-synchronous min relaxation); larger graphs run the
    distributed loop.
    """
    e_base = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
    )
    rows, e = collect_if_small(e_base)
    if rows is not None:
        return _driver_frame(
            edges.sparkSession,
            _relax_driver(rows, source, rounds),
            e_base.schema["src"].dataType,
            "cost",
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(truncate_lineage)
    )
    dist = nodes.select(
        "node",
        F.when(F.col("node") == F.lit(source), F.lit(0))
        .cast("long")
        .alias("d"),
    )
    for _ in range(rounds):
        reached = dist.filter(F.col("d").isNotNull())
        pushed = e.join(
            F.broadcast(reached.withColumnRenamed("node", "src")), "src"
        ).select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        dist = (
            reached.select("node", "d")
            .unionByName(pushed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .join(nodes, "node", "right")
            .select("node", "d")
            .transform(truncate_lineage_lazy)
        )
    return dist.filter(F.col("d").isNotNull()).select(
        "node", F.col("d").alias("cost")
    )
