"""Fixed-point PageRank (operators/graph.py)."""

from __future__ import annotations

from data_engineering_etl_self_service_spark.operators.graph import (
    SCALE,
    pagerank_fixedpoint,
)


def _ref_pagerank(edges, n_iters=3, num=85, den=100):
    """Driver-side integer re-implementation for tiny fixtures."""
    agg = {}
    for s, d, w in edges:
        agg[(s, d)] = agg.get((s, d), 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    outw = {}
    for (s, _), w in agg.items():
        outw[s] = outw.get(s, 0) + w
    n = len(nodes)
    base = (SCALE * (den - num)) // (den * n)
    rank = {v: SCALE // n for v in nodes}
    for _ in range(n_iters):
        inc = {v: 0 for v in nodes}
        for (s, d), w in agg.items():
            r, o = rank[s], outw[s]
            inc[d] += (r // o) * w + ((r % o) * w) // o
        rank = {v: base + (num * inc[v]) // den for v in nodes}
    return rank


def test_pagerank_matches_reference_model_both_tiers(spark):
    # A->B (x2 dup), A->C, B->C weighted, C->A cycle, D dangling source.
    edges = [
        ("a", "b", 1),
        ("a", "b", 1),
        ("a", "c", 2),
        ("b", "c", 5),
        ("c", "a", 1),
        ("d", "a", 3),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    expected = _ref_pagerank(edges)
    driver_tier = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(df, n_iters=3).collect()
    }
    # driver_edges_max=0 forces the distributed DataFrame iteration path;
    # both tiers must produce bit-identical ranks.
    dist_tier = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(
            df, n_iters=3, driver_edges_max=0
        ).collect()
    }
    assert driver_tier == expected
    assert dist_tier == expected


def test_pagerank_shuffle_join_fallback_parity(spark):
    """broadcast_nodes_max=0 forces the shuffle-join rank update (the
    web-scale path where |V| would blow the broadcast limit); it must be
    bit-identical to the broadcast path AND the reference recurrence —
    the documented boundary is a code path, not an assumption."""
    edges = [
        ("a", "b", 1),
        ("a", "b", 1),
        ("a", "c", 2),
        ("b", "c", 5),
        ("c", "a", 1),
        ("d", "a", 3),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    expected = _ref_pagerank(edges)
    shuffle_tier = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(
            df, n_iters=3, driver_edges_max=0, broadcast_nodes_max=0
        ).collect()
    }
    broadcast_tier = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(
            df, n_iters=3, driver_edges_max=0
        ).collect()
    }
    assert shuffle_tier == expected
    assert broadcast_tier == shuffle_tier


def test_pagerank_distributed_tier_checkpoints_long_runs(spark):
    """checkpoint_every=2 over 5 iterations on the distributed tier —
    exercises the lineage-truncation branch; result must still match."""
    edges = [("a", "b", 1), ("b", "c", 2), ("c", "a", 3), ("c", "b", 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(
            df, n_iters=5, driver_edges_max=0, checkpoint_every=2
        ).collect()
    }
    assert got == _ref_pagerank(edges, n_iters=5)


def test_pagerank_sink_node_receives_only(spark):
    # b is a pure sink (dangling): contributes nothing, still ranked.
    df = spark.createDataFrame(
        [("a", "b", 1), ("c", "b", 1)], ["src", "dst", "weight"]
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(df, n_iters=2).collect()
    }
    assert set(got) == {"a", "b", "c"}
    assert got == _ref_pagerank(
        [("a", "b", 1), ("c", "b", 1)], n_iters=2
    )
    assert got["b"] > got["a"] == got["c"]


def test_pagerank_total_mass_bounded(spark):
    df = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        ["src", "dst", "weight"],
    )
    got = pagerank_fixedpoint(df, n_iters=4).collect()
    total = sum(r["rank"] for r in got)
    # cycle: no dangling mass, only floor rounding lost
    assert SCALE - 100 <= total <= SCALE


def _brute_triangles(edges):
    """Per-node triangle counts by brute-force enumeration."""
    import itertools
    from collections import Counter

    es = set()
    nodes = set()
    for u, v in edges:
        if u != v:
            es.add((min(u, v), max(u, v)))
            nodes.update((u, v))
    cnt = Counter()
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            cnt[a] += 1
            cnt[b] += 1
            cnt[c] += 1
    return dict(cnt)


def test_triangle_counts_vs_brute_force_with_hub(spark):
    """Random graph plus a deliberate hub node: degree-ordered counting
    must agree with brute force exactly (each triangle once)."""
    import random

    from data_engineering_etl_self_service_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    edges = [(rng.randrange(12), rng.randrange(12)) for _ in range(40)]
    edges += [(99, i) for i in range(12)]  # hub connected to everyone
    edges += [(3, 3), (5, 4)]  # self-loop ignored; reversed dup collapses
    df = spark.createDataFrame(edges, "u long, v long")
    want = _brute_triangles(edges)
    for tier in (True, False):  # adjacency-broadcast and wedge-join tiers
        got = {
            r.node: r.n_tri
            for r in triangle_counts(df, broadcast_adjacency=tier).collect()
        }
        assert got == want
    assert len(want) > 0


def test_triangle_counts_single_triangle_plus_chain(spark):
    from data_engineering_etl_self_service_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {r.node: r.n_tri for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def _ref_kcore(edges, k, rounds):
    from collections import Counter

    es = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    for _ in range(rounds):
        deg = Counter()
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= k}
        es = {(u, v) for u, v in es if u in keep and v in keep}
    deg = Counter()
    for u, v in es:
        deg[u] += 1
        deg[v] += 1
    return dict(deg)


def test_kcore_peel_vs_brute_force(spark):
    """Chain + clique + pendant nodes: 2-core peeling must strip the
    chain layer by layer and keep the clique, matching brute force."""
    import random

    from data_engineering_etl_self_service_spark.operators.graph import kcore_peel

    rng = random.Random(3)
    edges = [(i, i + 1) for i in range(6)]  # chain: fully peeled at k=2
    edges += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]  # K4
    edges += [(13, 20), (20, 21)]  # pendant tail off the clique
    edges += [(rng.randrange(8), rng.randrange(8)) for _ in range(15)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.deg for r in kcore_peel(df, k=2, rounds=4).collect()}
    assert got == _ref_kcore(edges, 2, 4)
    for n in (10, 11, 12, 13):
        assert got[n] >= 3  # the K4 survives
    assert 20 not in got and 21 not in got  # the tail is peeled


def test_bfs_hops_vs_reference(spark):
    """Diamond + chain + unreachable island; round budget must cap depth."""
    from data_engineering_etl_self_service_spark.operators.graph import bfs_hops

    edges = [
        ("s", "a"), ("s", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
        ("d", "e"), ("e", "f"), ("x", "y"),  # island: never reached
        ("f", "s"),  # back edge: must not lower existing distances
    ]
    df = spark.createDataFrame(edges, "src string, dst string")

    def ref(rounds):
        dist = {"s": 0}
        for _ in range(rounds):
            new = dict(dist)
            for u, v in edges:
                if u in dist:
                    new[v] = min(new.get(v, 1 << 30), dist[u] + 1)
            dist = new
        return dist

    for rounds in (1, 2, 3, 6):
        got = {
            r.node: r.hops
            for r in bfs_hops(df, "s", rounds=rounds).collect()
        }
        assert got == ref(rounds), rounds
    assert "x" not in got and "y" not in got


def test_bellman_ford_hand_graph_and_fixpoint(spark, sf_dir):
    """Weighted relaxation on a hand graph: the cheap 3-edge detour
    beats the expensive direct edge; extra rounds are a fixpoint."""
    from data_engineering_etl_self_service_spark.operators.graph import (
        bellman_ford,
    )

    edges = spark.createDataFrame(
        [
            ("a", "b", 10),
            ("a", "c", 1),
            ("c", "d", 1),
            ("d", "b", 1),
            ("b", "e", 1),
            ("x", "y", 5),  # unreachable component
        ],
        "src string, dst string, cost long",
    )
    got = {
        r["node"]: r["cost"]
        for r in bellman_ford(edges, "a", rounds=4).collect()
    }
    assert got == {"a": 0, "b": 3, "c": 1, "d": 2, "e": 4}
    # one more round changes nothing (fixpoint inside the budget)
    again = {
        r["node"]: r["cost"]
        for r in bellman_ford(edges, "a", rounds=5).collect()
    }
    assert again == got
    # fixture graph: cheapest_trade_route is at fixpoint within budget
    from data_engineering_etl_self_service_spark.queries import QUERIES

    rows = QUERIES["cheapest_trade_route"](spark, sf_dir).collect()
    assert {r["n_name"] for r in rows}  # non-vacuous at sf0.001
    assert all(r["cost"] >= 0 for r in rows)


def test_graph_driver_tiers_match_distributed_loops(spark, monkeypatch):
    """opt r13: bfs_hops / bellman_ford / kcore_peel run their rounds
    on the driver below the edge budget. Both tiers must produce
    identical rows on graphs with cycles, unreachable islands, and
    parallel edges."""
    from data_engineering_etl_self_service_spark import runtime
    from data_engineering_etl_self_service_spark.operators.graph import (
        bellman_ford,
        bfs_hops,
        kcore_peel,
    )

    bf_edges = spark.createDataFrame(
        [("a", "b", 10), ("a", "c", 1), ("c", "d", 1), ("d", "b", 1),
         ("b", "e", 1), ("x", "y", 5), ("a", "b", 3)],
        "src string, dst string, cost long",
    )
    bfs_edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
         ("x", "y"), ("d", "s")],
        "src string, dst string",
    )
    kc_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)]
        + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        + [(13, 20), (20, 21)],
        "u long, v long",
    )

    def run_all():
        return (
            sorted(tuple(r) for r in bellman_ford(bf_edges, "a", 4).collect()),
            sorted(tuple(r) for r in bfs_hops(bfs_edges, "s", 3).collect()),
            sorted(tuple(r) for r in kcore_peel(kc_edges, 2, 4).collect()),
        )

    drv = run_all()  # default budget: driver tier
    monkeypatch.setattr(runtime, "DRIVER_TIER_ROWS", 0)  # force distributed
    dist = run_all()
    assert drv == dist


def test_bellman_ford_parallel_edges_keep_cheapest(spark):
    from data_engineering_etl_self_service_spark.operators.graph import (
        bellman_ford,
    )

    edges = spark.createDataFrame(
        [("a", "b", 7), ("a", "b", 2)], "src string, dst string, cost long"
    )
    got = {
        r["node"]: r["cost"] for r in bellman_ford(edges, "a", 2).collect()
    }
    assert got["b"] == 2
