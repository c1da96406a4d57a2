"""Fixed-point Lloyd k-means: exact numpy parity + Lloyd invariants."""

from __future__ import annotations

import numpy as np

from data_engineering_etl_self_service_spark.catalog import load_table
from data_engineering_etl_self_service_spark.operators.clustering import (
    SCALE,
    kmeans_assign,
    kmeans_fit,
    kmeans_summary,
)


def _xf_matrix(e):
    rows = sorted(
        e.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id
    )
    M = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    return (
        np.array([r.vec_id for r in rows], dtype=np.int64),
        np.floor(M * SCALE).astype(np.int64),
    )


def _np_lloyd(X, k, n_iters):
    cents = X[:k].copy()
    for _ in range(n_iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cid = d2.argmin(axis=1)  # first-min = lowest cluster id on ties
        for c in range(k):
            members = X[cid == c]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                cents[c] = (s - ((s % n) + n) % n) // n
    return cents


def test_kmeans_matches_numpy_exactly(spark, sf_dir):
    """Integer arithmetic end-to-end ⇒ the distributed result must equal a
    single-node numpy Lloyd bit-for-bit — no tolerance."""
    e = load_table(spark, sf_dir, "embeddings")
    ids, X = _xf_matrix(e)
    k, t = 8, 3
    cents = _np_lloyd(X, k, t)

    got_cents = kmeans_fit(e, k=k, n_iters=t)
    assert [list(c) for c in cents] == got_cents

    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    exp_cid = d2.argmin(axis=1)
    exp_d2 = d2[np.arange(len(X)), exp_cid]
    got = {
        r.vec_id: (r.cluster_id, r.d2)
        for r in kmeans_assign(e, got_cents).select(
            "vec_id", "cluster_id", "d2"
        ).collect()
    }
    for i, vid in enumerate(ids):
        assert got[vid] == (int(exp_cid[i]), int(exp_d2[i]))


def test_kmeans_inertia_nonincreasing(spark, sf_dir):
    """Lloyd monotonicity: total inertia after T+1 iterations can exceed
    the T-iteration inertia only by the floor-rounding slack (< n*dim per
    update)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    dim = len(e.select("embedding").first()[0])
    slack = n * dim
    inertias = []
    for t in (0, 1, 2, 3):
        total = (
            kmeans_summary(e, k=8, n_iters=t)
            .agg({"inertia": "sum"})
            .first()[0]
        )
        inertias.append(int(total))
    for prev, cur in zip(inertias, inertias[1:]):
        assert cur <= prev + slack
    assert inertias[-1] < inertias[0]  # it actually learned something


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_summary(e, k=8, n_iters=2).collect()
    assert sum(r.n_vecs for r in out) == e.count()
    assert all(0 <= r.cluster_id < 8 for r in out)
    assert all(r.inertia >= 0 for r in out)


def test_semantic_dedup_drops_within_cluster_near_dups(spark):
    """A vector nearly parallel to a lower-id vector lands in the same
    cluster and is dropped; the lowest id of a duplicate set is kept;
    an orthogonal vector survives."""
    from data_engineering_etl_self_service_spark.operators.clustering import (
        semantic_dedup,
    )

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]  # cos ~ 0.99995
    ortho = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, base, 0), (1, near, 0), (2, ortho, 0), (3, near, 0)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    out = {r.vec_id: r.kept for r in semantic_dedup(
        e, k=2, n_iters=2, tau_num=9, tau_den=10
    ).collect()}
    assert out[0] is True          # lowest id of the duplicate set
    assert out[1] is False and out[3] is False
    assert out[2] is True          # orthogonal: cos 0 < 0.9


def test_semantic_dedup_matches_queries_row_shape(spark, sf_dir):
    from data_engineering_etl_self_service_spark.operators.clustering import (
        semantic_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(e, k=8, n_iters=3, tau_num=2, tau_den=5)
    rows = out.collect()
    assert len(rows) == e.count()
    assert out.columns == ["vec_id", "cluster_id", "kept"]
    assert any(not r.kept for r in rows)  # non-degenerate at fixture scale
    # dropping is monotone in tau: a looser threshold drops at least as many
    loose = semantic_dedup(e, k=8, n_iters=3, tau_num=1, tau_den=5)
    n_tight = sum(not r.kept for r in rows)
    n_loose = sum(not r.kept for r in loose.collect())
    assert n_loose >= n_tight


def test_assignment_expression_and_numpy_paths_bit_equal(spark, sf_dir):
    """The two nearest-centroid paths (inlined-literal expression for
    small k, Arrow+numpy matmul for large k) must produce bit-identical
    (d2, cid) — same fixed-point ints, same lowest-cid tie-break — so
    crossing _EXPR_K_MAX can never change a result, only the plan."""
    from pyspark.sql import functions as F

    from data_engineering_etl_self_service_spark.operators.clustering import (
        _best_cluster,
        _best_cluster_np,
        _fixed,
        _init_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings").limit(200)
    df = e.select("vec_id", _fixed("embedding").alias("xf"))
    cents = _init_centroids(df, 20, "vec_id")
    expr = {
        r.vec_id: (r.d2, r.cid)
        for r in df.withColumn("b", _best_cluster(F.col("xf"), cents))
        .select("vec_id", "b.d2", "b.cid")
        .collect()
    }
    nump = {
        r.vec_id: (r.d2, r.cid)
        for r in df.withColumn("b", _best_cluster_np(F.col("xf"), cents))
        .select("vec_id", "b.d2", "b.cid")
        .collect()
    }
    assert expr == nump and len(expr) == 200


def test_kmeans_driver_tier_matches_distributed_loop(spark, sf_dir, monkeypatch):
    """The ≤runtime.DRIVER_TIER_ROWS fit tier must produce bit-identical
    centroids to the distributed Lloyd loop (same init, same argmin
    tie-break, same floor-div update, same empty-cluster carry)."""
    from data_engineering_etl_self_service_spark import runtime
    from data_engineering_etl_self_service_spark.catalog import load_table
    from data_engineering_etl_self_service_spark.operators.clustering import (
        kmeans_fit,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    with monkeypatch.context() as m:
        m.setattr(runtime, "DRIVER_TIER_ROWS", 0)  # force distributed
        dist = kmeans_fit(embs, k=5, n_iters=3)
    local = kmeans_fit(embs, k=5, n_iters=3)
    assert local == dist
