"""Deduplication operators for training-data pipelines.

The reference has no dedup at all (its nearest neighbor is the
``unique_column`` DQ check, ref: operators/data_quality_operator.py:103-114);
these are the north-star operators for a 100 TB corpus. All of the heavy
lifting is built-in DataFrame expressions — shingling, hashing, banding, and
group-joins — so every stage is a shuffle-on-key Catalyst plan, no Python in
the hot path.

Operators
---------
- :func:`dedup_exact` — hash-groupBy on a canonical text fingerprint.
- :func:`jaccard_pairs` — exact word-k-shingle Jaccard over ALL pairs that
  share a shingle (correct but O(pairs-sharing-a-shingle); the baseline).
- :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH candidate
  generation + exact-Jaccard verification. Same OUTPUT as ``jaccard_pairs``
  above the threshold (with overwhelming probability given the band/row
  choice) while only scoring colliding candidates — the 100 TB path.
- :func:`simhash_buckets` — 64-bit SimHash signatures + same-bucket
  candidate pairs with Hamming distance ≤ k (approximate, no oracle).
- :func:`embedding_neardup_pairs` — exact cosine threshold over embedding
  pairs (blocked brute force; see similarity.py for the ANN path).
"""

from __future__ import annotations

import pandas as _pd  # module-level so stringified UDF type hints resolve

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import runtime
from ..functions.text import fingerprint, tokens
from ..functions.vector import cosine
from ..runtime import truncate_lineage, truncate_lineage_lazy


# ---------------------------------------------------------------- exact


def dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = True,
) -> DataFrame:
    """Exact dedup: keep the lowest-id document per identical (normalized)
    text. Returns (keep_id, n_copies, fp). One shuffle on the fingerprint.

    The md5 fingerprint (32 hex chars) is grouped INSTEAD of the full text so
    the shuffle moves 16 bytes per doc, not the document body — at 100 TB
    that is the difference between shuffling hashes and shuffling the corpus.
    """
    fp = (
        fingerprint(F.col(text_col))
        if normalized
        else F.md5(F.col(text_col))
    )
    return (
        docs.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------------- shingles


def _shingle_table(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, shingle) exploded distinct word-k-shingles.

    Formulated as explode(sequence) → ``slice``/``concat_ws`` → ``distinct``
    rather than exploding :func:`word_shingles`'s array: higher-order
    ``transform`` lambdas evaluate interpreted (outside whole-stage codegen)
    and measured 4× slower end-to-end; plain slice/concat exprs stay in
    codegen. ``distinct`` keeps set semantics (required for Jaccard; MinHash
    is indifferent). Same output either way.
    """
    toks = docs.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("t")
    )
    n = F.size("t")
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return (
        toks.select("_id", "t", F.explode(idx).alias("i"))
        .select(
            "_id", F.concat_ws(" ", F.slice("t", F.col("i"), k)).alias("shingle")
        )
        .distinct()
    )


def _hashed_shingle_table(
    docs: DataFrame, text_col: str, id_col: str, k: int, distinct: bool = True
) -> DataFrame:
    """(id, hs) 64-bit-hashed word-k-shingles — the scale variant.

    Hashing each shingle to ``xxhash64`` up front means every downstream
    shuffle/join moves 8-byte longs instead of shingle strings. Collisions
    merge shingles with probability ~n²/2⁶⁵ (≈2e-9 for the sf0.1 corpus); at
    100 TB a collision merely perturbs a Jaccard estimate used as a
    threshold — acceptable, and why MinHash itself hashes shingles this way.

    ``distinct=False`` returns the raw bag with NO shuffle at all — correct
    for MinHash signatures (MIN is duplicate-insensitive); set-semantics
    consumers (Jaccard counts) must dedupe their (usually much smaller)
    slice themselves.

    On the ``distinct=True`` (set-semantics) path the input is first
    spread to the session's core count (``runtime.spread_scan`` —
    identity at real scan parallelism): the tokenize + shingle explode
    feeds the distinct shuffle and the heavy Jaccard machinery, and a
    single small parquet file otherwise serializes it on one task
    (measured: jaccard_prefix 8.7 -> 7.6 s at sf0.1). The
    ``distinct=False`` (MinHash signature) path measured WORSE with the
    spread — its downstream is one map-side-combined agg — so it keeps
    the raw scan.
    """
    from ..runtime import spread_scan

    if distinct:
        docs = spread_scan(docs, id_col)
    toks = docs.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("t")
    )
    n = F.size("t")
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    out = toks.select("_id", "t", F.explode(idx).alias("i")).select(
        "_id",
        F.xxhash64(F.concat_ws(" ", F.slice("t", F.col("i"), k))).alias("hs"),
    )
    return out.distinct() if distinct else out


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram (word k-shingle) Jaccard similarity pairs ≥ threshold.

    Plan: explode shingles → self-equi-join on shingle (inverted index) →
    count intersections → join |A|,|B| → filter. The self-join shuffles on
    the shingle hash; hot shingles are the skew risk, which is why the
    production path is :func:`minhash_lsh_pairs` — this exact form is the
    semantic baseline and verification oracle.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = _shingle_table(docs, text_col, id_col, k)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "jaccard")


# ------------------------------------------------------------- MinHash


def _affine_coeffs(num_hashes: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family, a odd,
    both < 2^31 so products stay well inside int64 (Spark 4 runs ANSI mode;
    silent wraparound is not available and overflow would throw)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 96,
) -> DataFrame:
    """(id, h0..h_{n-1}) MinHash signature columns.

    Each shingle is string-hashed ONCE (``xxhash64``); the n-vector of
    minhash functions comes from a universal affine family
    ``h_i = a_i * (base & (2^31-1)) + b_i`` — integer multiply-adds, not n
    string hashes — and the signature is n elementwise MIN aggregates in ONE
    groupBy pass over the exploded (doc, shingle) table. This took the
    signature stage from ~13 s to ~1 s at sf0.1 and, at 100 TB, cuts per-row
    work by ~n×.
    """
    sh = _hashed_shingle_table(docs, text_col, id_col, k, distinct=False)
    base = F.col("hs").bitwiseAND(F.lit((1 << 31) - 1))
    coeffs = _affine_coeffs(num_hashes)
    withbase = sh.select("_id", base.alias("hb"))
    p = F.lit((1 << 31) - 1)  # Mersenne prime: the mod is what de-correlates
    # the n orderings — an affine map without it is monotone and every
    # "hash function" would pick the same argmin shingle.
    mins = withbase.groupBy("_id").agg(
        *[
            F.min((F.col("hb") * F.lit(a) + F.lit(b)) % p).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return mins


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified by exact Jaccard.

    With 24 bands × 4 rows, a pair at the 0.8 threshold collides with
    probability 1-(1-0.8⁴)²⁴ ≈ 1-3.3e-6 — so the verified output equals the
    exact :func:`jaccard_pairs` result in practice, while candidate
    generation is a bucket groupBy instead of an all-pairs shingle join.
    96 hash functions (not the textbook 128) keeps the signature aggregate
    inside whole-stage codegen (spark.sql.codegen.maxFields defaults to 100;
    129 output fields fall back to the interpreted path — measured 7× slower).

    Scale path (100 TB): signatures shuffle once on doc id (8 B × 96 per
    doc), band buckets shuffle once on (band, bucket) into sorted id lists;
    candidate verification recomputes shingles for the (tiny) candidate doc
    slice instead of caching the full-corpus shingle bag. Band-bucket skew
    (a boilerplate band hash shared by millions of docs) is the known
    hazard — ``max_bucket_size`` drops degenerate buckets outright (docs in
    them still collide via their other, more selective bands).

    Output: (doc_a, doc_b, jaccard) — same contract as :func:`jaccard_pairs`.
    """
    candidates = _minhash_lsh_candidates(
        docs, text_col, id_col, k, num_hashes, bands, max_bucket_size
    )
    return _verify_jaccard(docs, candidates, text_col, id_col, k, threshold)


def _minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """The unverified ``(doc_a, doc_b)`` candidate pairs of
    :func:`minhash_lsh_pairs`: every pair sharing a band bucket."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    # The hashed shingle BAG feeds the signatures. It is NOT persisted and
    # NOT globally deduped: MIN-based signatures don't care about duplicates,
    # and verification below recomputes shingles for just the candidate docs
    # — at 100 TB, caching (or globally distincting) the full-corpus shingle
    # bag would be the single biggest materialization in the pipeline, while
    # the candidate slice is tiny by construction.
    sh = _hashed_shingle_table(docs, text_col, id_col, k, distinct=False)

    base = F.col("hs").bitwiseAND(F.lit((1 << 31) - 1))
    coeffs = _affine_coeffs(num_hashes)
    p = F.lit((1 << 31) - 1)
    sig = sh.select("_id", base.alias("hb")).groupBy("_id").agg(
        *[
            F.min((F.col("hb") * F.lit(a) + F.lit(b)) % p).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )

    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col("_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # Candidate generation: ONE shuffle on (band, bucket) → sorted id list →
    # in-bucket pairs via posexplode + slice (plain codegen exprs). This
    # replaces a bucket self-equi-join (which shuffles both sides and then
    # needs a join); the grouped form also gives a natural skew guard — a
    # degenerate bucket (boilerplate band shared by millions of docs) would
    # generate |bucket|² pairs, so ``max_bucket_size`` drops such buckets
    # outright (docs in them still pair via their other, more selective
    # bands; dropping is the standard MinHashLSH production mitigation).
    grp = (
        buckets.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        grp = grp.filter(F.size("ids") <= max_bucket_size)
    candidates = (
        grp.select(F.posexplode("ids").alias("i", "doc_a"), F.col("ids"))
        .select(
            "doc_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("doc_b"),
        )
        .distinct()
    )

    return candidates


def _verify_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    eager: bool = True,
) -> DataFrame:
    """Exact-Jaccard verification of a (doc_a, doc_b) candidate set.

    Shingles are recomputed for the candidate docs only (broadcast
    semi-join prunes the corpus scan); set semantics (distinct) are
    restored HERE, on the tiny slice only. Output: (doc_a, doc_b, jaccard)
    filtered to ≥ threshold. ``eager=False`` returns the same plan
    without the persists and the final materialization.
    """
    if eager:
        candidates = candidates.persist()
    candidates = F.broadcast(candidates)
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    cdocs = docs.join(F.broadcast(cand_ids), id_col, "left_semi")
    csh = _hashed_shingle_table(cdocs, text_col, id_col, k, distinct=True)
    if eager:
        csh = csh.persist()
    sizes = csh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = csh.alias("a"), csh.alias("b")
    inter = (
        candidates.join(a, F.col("a._id") == F.col("doc_a"))
        .join(
            b,
            (F.col("b._id") == F.col("doc_b"))
            & (F.col("a.hs") == F.col("b.hs")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    if not eager:
        return out
    out = out.transform(truncate_lineage)  # tiny; frees both caches
    candidates.unpersist()
    csh.unpersist()
    return out


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: the ingestion-time variant of
    :func:`minhash_lsh_pairs`.

    A 100 TB corpus is not re-deduped from scratch per ingest; the standing
    pattern is: signatures of the existing corpus are a stored artifact
    (computed once, at their own ingest), and each incoming batch is checked
    against (corpus ∪ batch) while never re-generating corpus×corpus pairs
    — those were emitted when their docs arrived. This function expresses
    exactly that: band buckets that contain no batch doc are dropped before
    pair generation, and surviving in-bucket pairs must include ≥1 batch
    doc. Cost scales with |batch| × bucket overlap, not |corpus|²
    (the corpus side contributes only signatures — 8 B × num_hashes per doc
    — and the text of the docs that actually collide).

    Output: (doc_a, doc_b, jaccard), doc_a < doc_b, at least one side from
    ``batch``, exact-Jaccard verified — identical semantics to running
    :func:`minhash_lsh_pairs` on (corpus ∪ batch) and discarding
    corpus-only pairs, which is what the oracle pins.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    sig_old = minhash_signatures(corpus, text_col, id_col, k, num_hashes)
    sig_new = minhash_signatures(batch, text_col, id_col, k, num_hashes)
    tagged = sig_old.withColumn("_new", F.lit(False)).unionByName(
        sig_new.withColumn("_new", F.lit(True))
    )

    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = tagged.select(
        "_id", "_new", F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        "_id", "_new", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # Buckets without a batch doc can't produce a reportable pair — drop
    # them BEFORE pair generation (this is the incremental saving: at scale
    # the overwhelming majority of corpus buckets have no new collision).
    grp = (
        buckets.groupBy("band", "bucket")
        .agg(
            F.sort_array(F.collect_list(F.struct("_id", "_new"))).alias("ms"),
            F.max("_new").alias("has_new"),
        )
        .filter((F.size("ms") > 1) & F.col("has_new"))
    )
    if max_bucket_size is not None:
        grp = grp.filter(F.size("ms") <= max_bucket_size)
    candidates = (
        grp.select(F.posexplode("ms").alias("i", "a"), F.col("ms"))
        .select(
            "a", F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b")
        )
        .filter(F.col("a._new") | F.col("b._new"))
        .select(
            F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b")
        )
        .distinct()
    )

    alldocs = corpus.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    return _verify_jaccard(alldocs, candidates, text_col, id_col, k, threshold)


# ------------------------------------------------------------- SimHash


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (unweighted).

    Per token, ``xxhash64(token)`` supplies the bit pattern; the signature
    bit b is 1 iff more tokens have bit b set than unset. Implemented as 64
    conditional SUM aggregates over the exploded token table — one scan, one
    shuffle on doc id.
    """
    from ..functions.text import tokens

    # spread_scan measured worse here (4.2 -> 5.0 s at sf0.1): the 64
    # conditional bit sums are one map-side-combined agg — the exchange
    # costs more than the parallelized explode saves
    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.xxhash64(F.col("tok")))
    bit_sums = tok.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    one = F.lit(1).cast("long")
    sig = bit_sums.select(
        "_id",
        sum(
            [
                # shiftleft(1L, i) instead of lit(1 << i): bit 63 overflows a
                # Python-side long literal but is a fine JVM shift.
                F.when(F.col(f"b{i}") > 0, F.shiftleft(one, i)).otherwise(F.lit(0).cast("long"))
                for i in range(bits)
            ],
            F.lit(0).cast("long"),
        )
        .cast("long")
        .alias("simhash"),
    )
    return sig


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs with SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the 64-bit signature into ``blocks`` chunks;
    any pair within distance ≤ blocks-1 shares at least one exact chunk, so
    candidates come from equi-joins on chunk values (shuffle on 16-bit
    chunks) instead of an all-pairs scan. Requires max_hamming ≤ blocks-1
    for completeness.
    """
    assert max_hamming <= blocks - 1, "pigeonhole completeness needs blocks > max_hamming"
    sig = simhash_signatures(docs, text_col, id_col)
    width = 64 // blocks
    mask = (1 << width) - 1
    chunked = sig.select(
        "_id",
        "simhash",
        *[
            (F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))).alias(
                f"c{i}"
            )
            for i in range(blocks)
        ],
    )
    pairs = None
    for i in range(blocks):
        l, r = chunked.alias("l"), chunked.alias("r")
        p = l.join(
            r,
            (F.col(f"l.c{i}") == F.col(f"r.c{i}")) & (F.col("l._id") < F.col("r._id")),
        ).select(
            F.col("l._id").alias("doc_a"),
            F.col("r._id").alias("doc_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ----------------------------------------------------------- embeddings


def embedding_neardup_pairs(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, exact.

    Brute-force all-pairs via a self-join; at 100 TB this MUST be blocked —
    the production path is LSH bucketing (similarity.py) feeding this exact
    check over candidates only. Kept exact here as the semantic baseline.
    Output: (id_a, id_b, cos) with id_a < id_b.
    """
    l = embs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    r = embs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        l.join(r, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ------------------------------------------------- near-dup clustering


def neardup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_iter: int = 20,
    small_graph_pairs: int = 2_000_000,
) -> DataFrame:
    """Connected components over the near-dup pair graph → (doc_id, group_id).

    THE dedup deliverable for a training corpus: near-dup PAIRS don't
    dedupe anything — transitive clusters do (keep min-id per group, drop
    the rest). Pairs come from :func:`minhash_lsh_pairs` (exact-verified);
    components via iterative min-label propagation:

        label(v) ← min(label(v), min label over neighbours)

    repeated to fixpoint. Iterations = cluster diameter (near-dup clusters
    are shallow; the loop is bounded by ``max_iter``). Each round is one
    join + one groupBy — the standard Spark connected-components shape when
    a graph library isn't warranted. Only docs appearing in ≥1 pair are
    returned (singletons are their own trivial group).

    Cost discipline (this is an iterative op, the worst case for lazy
    re-evaluation):

    - the pair graph is materialized ONCE with a lineage-truncating
      ``localCheckpoint`` before the loop — the LSH pipeline must not sit
      in the lineage of every iteration;
    - symmetric edges come from ONE ``explode`` pass over the pairs (a
      union of two selects would evaluate the pairs plan twice);
    - convergence is detected by the monotone invariant ``sum(lbl)``
      strictly decreases until fixpoint — one cheap aggregate per round
      instead of a join of old vs new labels.
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, k, threshold)
    return components_from_pairs(
        pairs,
        a_col="doc_a",
        b_col="doc_b",
        out_id_col=id_col,
        max_iter=max_iter,
        small_graph_pairs=small_graph_pairs,
    )


def _components_driver(pair_rows) -> list:
    """Union-find with min-root over collected (a, b) pairs — the
    driver tier of :func:`components_from_pairs`. Attaching the larger
    root under the smaller keeps every root the MINIMUM id of its
    component, which is exactly the min-label-propagation fixed point
    the distributed loop converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(v, find(v)) for v in parent]


def components_from_pairs(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    out_id_col: str = "doc_id",
    max_iter: int = 20,
    small_graph_pairs: int = 2_000_000,
) -> DataFrame:
    """Connected components over an arbitrary pair graph → (id, group_id)
    via iterative min-label propagation — the loop behind
    :func:`neardup_groups`, exposed so ANY candidate-pair producer (text
    LSH, embedding cosine, fuzzy entity matching) composes into
    transitive clusters. Semantics and cost discipline documented there.

    Pair graphs within ``runtime.DRIVER_TIER_ROWS`` pairs (with
    numeric ids, where Python's ``<`` matches Spark's ``min`` ordering
    exactly) resolve on the driver via union-find — identical labels,
    one collect instead of diameter+1 jobs. Larger graphs run the
    distributed loop below, unchanged.
    """
    # Materialize the (small) pair graph and cut the producer's plan out
    # of the loop's lineage. The count is free (the checkpoint just
    # materialized the rows); it gates the driver tier and drives the
    # parallelism decision below.
    pairs = pairs.transform(truncate_lineage_lazy)
    n_pairs = pairs.count()
    from pyspark.sql import types as T

    spark = pairs.sparkSession
    idt = pairs.schema[a_col].dataType
    if (
        0 < n_pairs <= runtime.DRIVER_TIER_ROWS
        and isinstance(
            idt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        )
        and pairs.schema[b_col].dataType == idt
    ):
        rows = pairs.select(a_col, b_col).collect()
        comp = _components_driver(
            [(int(r[0]), int(r[1])) for r in rows]
        )
        return spark.createDataFrame(
            comp,
            T.StructType(
                [
                    T.StructField(out_id_col, idt, False),
                    T.StructField("group_id", idt, False),
                ]
            ),
        )
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("a"), F.col(b_col).alias("b")),
                    F.struct(F.col(b_col).alias("a"), F.col(a_col).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        # pairs are distinct with a_col < b_col → edges distinct
    )
    # Size-adaptive parallelism: the pair graph is usually orders of
    # magnitude smaller than the corpus (it IS the near-dup slice). Below
    # ``small_graph_pairs`` edges, run every iteration on ONE partition with
    # the edge list broadcast into the join — each round is then a handful of
    # 10 ms tasks instead of a full-width shuffle (measured 3× faster end to
    # end at sf0.1). Above it, keep the default-width shuffle plan; the
    # loop's asymptotics are identical either way.
    small = n_pairs <= small_graph_pairs
    if small:
        edges = edges.coalesce(1)
    edges = edges.persist()
    join_edges = F.broadcast(edges) if small else edges
    labels = (
        edges.select(F.col("a").alias("v")).distinct().withColumn("lbl", F.col("v"))
    )
    labels = (labels.coalesce(1) if small else labels).persist()
    prev_sum = None

    for _ in range(max_iter):
        neighbor_lbls = (
            labels.join(join_edges, labels.v == edges.a)
            .select(F.col("b").alias("v"), "lbl")
        )
        new_labels = (
            labels.unionByName(neighbor_lbls)
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
        )
        # lineage MUST truncate every round, not just persist: the
        # union references `labels` twice, so the analyzed plan doubles
        # per iteration — persist substitutes InMemoryRelation only
        # AFTER analysis walks the full tree, and a graph needing ~17
        # rounds (diameter-bound) OOMed the driver on plan bookkeeping
        # alone at sf0.1 with 920 pairs (round 11, caught by the sf0.1
        # sweep; sf0.01 converged in 4 rounds and never showed it).
        # localCheckpoint is the right tool on an ITERATIVE QUERY path:
        # an executor loss just fails-and-reruns the query — unlike the
        # maintenance paths (VERDICT r10 #2), no table state rides on
        # the truncated lineage. Eager + tiny: one row per vertex of
        # the pair SLICE.
        new_labels = (
            new_labels.coalesce(1) if small else new_labels
        ).transform(truncate_lineage_lazy)
        cur_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(
        F.col("v").alias(out_id_col), F.col("lbl").alias("group_id")
    )


def duplicate_span_extents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_gram_occ: int = 16,
    top: int = 25,
    materialize: bool = True,
) -> DataFrame:
    """Maximal cross-document duplicated token spans (span-level exact
    dedup, the k-gram formulation of the suffix-array method): adjacent
    matching k-grams between two documents merge into their maximal
    shared span via gaps-and-islands on the match diagonal
    (``pos_a - pos_b`` constant ⟺ the same substring extends).

    Contract: spans are built from k-grams with total corpus occurrence
    in [2, ``max_gram_occ``] — the lower bound drops unique text, the
    upper bound is the skew guard that keeps boilerplate grams ("the the
    the ...") from exploding the per-gram join (the ``max_bucket_size``
    pattern from :func:`minhash_lsh_pairs`); a gram that common is
    boilerplate, not a memorization span. Deterministic, so the SQL
    oracle applies the identical cap.

    Scale: positional grams are ~|tokens| rows; the eligible-gram filter
    collapses map-side; the pair join fans out at most
    ``max_gram_occ``² rows per gram; islands are one window over
    (doc_a, doc_b, diag) — every stage bounded and salting-free.

    ``materialize=True`` (default) eagerly computes the ≤``top``-row
    result and unpersists the positional-gram cache, so repeated calls in
    a long-lived session don't accumulate cached blocks.
    ``materialize=False`` returns the lazy plan (and leaks the persist to
    the caller) — for plan audits only.
    """
    from ..functions.text import tokens as _tokens
    from ..runtime import spread_scan

    # persist: the positional gram set feeds BOTH the eligibility count
    # and the match join — without it the explode (the widest stage) runs
    # twice, and both consumers shuffle it on gram anyway.
    # spread first: the positional-gram explode is the corpus-sized CPU
    # stage, and a single-file scan would otherwise run it on one task.
    # Gram build is explode(start positions) + slice/concat as plain
    # column exprs (opt r13): word_shingles' transform(idx, ...) lambda
    # evaluates interpreted outside whole-stage codegen — the 4x the
    # _shingle_table docstring measured. pos == the 1-based start index
    # (identical to the old posexplode's pos0+1).
    _t = _tokens(F.col(text_col))
    sh = (
        spread_scan(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), _t.alias("t"))
        .select("doc_id", "t", F.explode(
            F.when(
                F.size("t") >= k,
                F.sequence(F.lit(1), F.size("t") - (k - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"))
        .select(
            "doc_id",
            F.col("i").cast("long").alias("pos"),
            F.concat_ws(" ", F.slice("t", F.col("i"), k)).alias("gram"),
        )
        .persist()
    )
    eligible = (
        sh.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(
            (F.col("n_occ") >= 2) & (F.col("n_occ") <= max_gram_occ)
        )
        .select("gram")
    )
    m = sh.join(eligible, "gram")
    # Pair expansion as a grouped JVM expression (opt r12): the former
    # a ⋈ b self-join on gram inlined the (sh ⋈ eligible) subtree twice
    # — the eligibility agg and the posting join each ran TWICE, and
    # the join's build side was the whole posting table. A groupBy on
    # the join's own key adds NO exchange; per-gram posting lists are
    # bounded by ``max_gram_occ`` (the eligibility filter is upstream),
    # so collect_list here is skew-free BY CONSTRUCTION — this is not
    # the unbounded-group hazard, the [2, max_gram_occ] band is the
    # bound. Sorted (doc_id, pos) structs expand i<j combinations,
    # which is exactly the join's doc_a < doc_b output (same-doc pairs
    # dropped by the filter, both position orders covered because every
    # (i, j) with doc_i < doc_j appears once).
    grp = m.groupBy("gram").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "pos"))
        ).alias("es")
    )
    pairs = (
        grp.select(
            F.explode(
                F.expr(
                    "flatten(transform(es, (a, i) -> "
                    "transform(slice(es, i + 2, size(es) - i - 1), "
                    "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
                    "a.pos AS pos_a, b.pos AS pos_b))))"
                )
            ).alias("p")
        )
        .filter(F.col("p.doc_a") < F.col("p.doc_b"))
        .select("p.doc_a", "p.doc_b", "p.pos_a", "p.pos_b")
    )
    win = Window.partitionBy(
        "doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    isl = pairs.select(
        "doc_a",
        "doc_b",
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        "pos_a",
        "pos_b",
        (F.col("pos_a") - F.row_number().over(win)).alias("isl"),
    )
    out = (
        isl.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            (F.count(F.lit(1)) + (k - 1)).alias("span_tokens"),
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
        )
        .select("doc_a", "doc_b", "span_tokens", "start_a", "start_b")
        .orderBy(
            F.desc("span_tokens"), "doc_a", "doc_b", "start_a", "start_b"
        )
        .limit(top)
    )
    if not materialize:
        return out
    out = out.transform(truncate_lineage)
    sh.unpersist()
    return out


def scrub_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_gram_occ: int = 16,
    materialize: bool = True,
    return_text: bool = False,
) -> DataFrame:
    """Duplicate-substring REMOVAL — the scrub half of span-level exact
    dedup (the detection half is :func:`duplicate_span_extents`): a
    token is cut when any k-gram window containing it has total corpus
    occurrence in [2, ``max_gram_occ``], and the surviving tokens are
    rejoined into the scrubbed text. This is the remove-the-substring
    policy of the training-data dedup literature (cut only the repeated
    span, keep the rest of the document) rather than doc-level drop.

    Contract notes, all deterministic so a SQL oracle can restate them:
    tokens are case-folded whitespace tokens (the gram table's own
    tokenization); the occurrence band's upper bound is the same
    boilerplate skew guard as in :func:`duplicate_span_extents` (a gram
    more frequent than the cap is chrome, handled by the boilerplate
    ops, and would otherwise explode the per-gram fan-out); coverage
    counts within-doc repeats too (total occurrence, not doc
    frequency).

    Scale: no pair join anywhere — grams aggregate map-side to an
    eligibility set, covered positions fan out exactly k rows per
    eligible gram occurrence, and the rebuild is one per-doc grouped
    agg (collect_list of (pos, tok) structs, array_sort for
    deterministic order — bounded by document length, the same bound
    every per-doc window in this module relies on). Three shuffles
    total (gram agg, coverage distinct, doc rollup), each on keys that
    scale with corpus size, never with corpus².

    Output: one row per doc — (doc_id, n_tokens, n_dup_tokens,
    n_kept_tokens, scrubbed_chars, scrub_md5); with ``return_text``
    also ``scrubbed_text`` (the case-folded surviving tokens rejoined —
    the column the YAML ``scrub_duplicates`` pipeline op substitutes
    back for the text column).

    ``materialize=False`` returns the lazy plan (leaking the persist)
    for plan audits, like :func:`duplicate_span_extents`.
    """
    from ..functions.text import tokens as _tokens
    from ..runtime import spread_scan

    w = spread_scan(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        _tokens(F.col(text_col)).alias("t"),
    ).persist()
    tok = w.select(
        "doc_id", F.posexplode("t").alias("pos0", "tok")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok"
    )
    idx = F.when(
        F.size("t") >= k, F.sequence(F.lit(1), F.size("t") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    # explode the start positions FIRST, then build the gram as a plain
    # slice/concat column (opt r13): a transform(idx, ...) lambda
    # evaluates interpreted outside whole-stage codegen — the same 4x
    # the _shingle_table docstring measured. pos == the 1-based start
    # index, so the exploded value IS the old posexplode's pos0+1.
    sh = w.select("doc_id", "t", F.explode(idx).alias("i")).select(
        "doc_id",
        F.col("i").cast("long").alias("pos"),
        F.concat_ws(" ", F.slice("t", F.col("i"), k)).alias("gram"),
    )
    elig = (
        sh.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter((F.col("n_occ") >= 2) & (F.col("n_occ") <= max_gram_occ))
        .select("gram")
    )
    covered = (
        sh.join(elig, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    keptagg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("scrub"),
    )
    covn = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_tokens")
    )
    stats = w.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    out = (
        stats.join(covn, "doc_id", "left")
        .join(keptagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint").alias(
                "n_dup_tokens"
            ),
            F.coalesce("n_kept_tokens", F.lit(0)).cast("bigint").alias(
                "n_kept_tokens"
            ),
            F.length(F.coalesce("scrub", F.lit(""))).cast("bigint").alias(
                "scrubbed_chars"
            ),
            F.md5(F.coalesce("scrub", F.lit(""))).alias("scrub_md5"),
            *(
                [F.coalesce("scrub", F.lit("")).alias("scrubbed_text")]
                if return_text
                else []
            ),
        )
    )
    if not materialize:
        return out
    out = out.transform(truncate_lineage)
    w.unpersist()
    return out


def drop_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Remove near-duplicate documents, keeping the lowest-id
    representative of each transitive near-dup cluster — the one-call
    dedup step of a training-data pipeline, composing
    :func:`minhash_lsh_pairs` (exact-verified candidates) with
    :func:`neardup_groups` (connected components).

    Docs in no pair are untouched; from every cluster exactly one
    survivor (min id) remains. Scale: everything data-sized is the
    bucketed LSH pipeline; the final drop is one broadcast anti-join of
    the (small) loser list against the corpus.
    """
    groups = neardup_groups(
        docs, text_col=text_col, id_col=id_col, k=k, threshold=threshold
    )
    losers = groups.filter(F.col(id_col) != F.col("group_id")).select(
        id_col
    )
    return docs.join(F.broadcast(losers), id_col, "left_anti")


# ------------------------------------------------------- prefix filtering


def jaccard_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    eager: bool = True,
    verify_chunk_pairs: int = 2_000_000,
) -> DataFrame:
    """Exact Jaccard pairs >= tau via AllPairs/PPJoin prefix filtering.

    ``eager=False`` skips the persist/localCheckpoint materialization and
    returns the bare plan — for plan inspection (PLAN_VIEWS) only.

    Same answer as :func:`jaccard_pairs`, computed the index-pruned way
    (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity Search";
    Xiao et al., WWW'08 PPJoin): order every document's shingles by
    ascending global frequency and self-join only each document's
    *prefix* — the first ``n - ceil(tau*n) + 1`` shingles. Two sets with
    Jaccard >= tau must share at least one prefix shingle (pigeonhole on
    the required overlap ``|A∩B| >= tau/(1+tau)*(|A|+|B|)``), so the
    candidate set is provably complete; an exact verify pass removes
    false positives.

    Why this is THE 100 TB form of exact set-similarity join:

    - The inverted index shrinks from every (doc, shingle) posting to
      only prefix postings — at tau=0.8 that is ~20% of postings.
    - Hot-shingle skew *self-heals*: a shingle shared by millions of
      docs has maximal global frequency, so it sorts last and appears in
      almost no prefix — precisely the postings that exploded the naive
      self-join (the documented skew risk of :func:`jaccard_pairs`)
      never reach the join.
    - A length filter (``den*min >= num*max``) drops cross-size
      candidates before verification.

    tau is passed as an exact rational (num/den, default 4/5 = 0.8) so
    the prefix length ``n - ceil(num*n/den) + 1`` is computed in integer
    arithmetic — a float ``ceil(0.8*n)`` can round up on exact multiples
    and silently *shrink* the prefix, losing pairs.

    Verification is *content-signature deduplicated* and *chunked*
    (round-5 scale hardening — SCALE.md recorded a local-JVM OOM at ~20M
    verified pairs of full-length docs, in verify-stage result
    materialization, not candidate generation):

    - Each doc's sorted shingle array gets a 64-bit ``xxhash64``
      signature; docs with identical shingle SETS share a signature, so
      a near-dup-dense corpus (the exact regime this operator exists
      for) verifies each distinct content pair ONCE, and equal-signature
      candidate pairs short-circuit to jaccard = 1.0 with no array join
      at all.  Candidate *generation* is untouched, so completeness is
      unchanged; identical sets have identical Jaccard, so the answer is
      unchanged.
    - When the distinct signature-pair count exceeds
      ``verify_chunk_pairs``, verification runs in hash-partitioned
      chunks written through to a process-scoped scratch parquet —
      peak memory is one chunk's array-carrying join, never the full
      pair set.  The returned DataFrame is localCheckpoint-ed off the
      scratch files (skinny fixed-width rows), so it stays valid for
      the caller's whole session regardless of scratch rotation.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b — identical to
    ``jaccard_pairs`` (shingle hashing collides with p ~ n^2/2^65;
    the set-signature hash adds the same negligible collision odds).
    """
    # the persist stays even for eager=False (plan view): it is lazy and
    # the plan-view DataFrame is never executed, while the explain output
    # then shows the true runtime InMemoryTableScan reuse.
    sh = _hashed_shingle_table(docs, text_col, id_col, k, distinct=True)
    sh = sh.persist()
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))

    # Global document frequency of every shingle: one map-side-combined agg.
    df_freq = sh.groupBy("hs").agg(F.count(F.lit(1)).alias("gf"))

    # Canonical per-doc ordering: ascending (global freq, shingle hash).
    # The window is partitioned per doc — bounded by document length.
    rank_w = Window.partitionBy("_id").orderBy("gf", "hs")
    ranked = (
        sh.join(df_freq, "hs")
        .join(sizes, "_id")
        .withColumn("pos", F.row_number().over(rank_w))
    )
    num, den = F.lit(threshold_num), F.lit(threshold_den)
    # prefix_len = n - ceil(num*n/den) + 1, all-integer.
    ceil_tau_n = F.expr(
        f"(n_sh * {threshold_num} + {threshold_den} - 1) div {threshold_den}"
    )
    prefix = ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_tau_n + 1)
    # prefix feeds BOTH arms of the candidate self-join — persist, or
    # the freq join + per-doc rank window execute twice inside the one
    # action that materializes the candidates (opt r12; ~20% of
    # postings by construction, skinny fixed-width columns)
    prefix = prefix.persist()

    a = prefix.select(
        F.col("_id").alias("doc_a"), F.col("hs"), F.col("n_sh").alias("n_a")
    )
    b = prefix.select(
        F.col("_id").alias("doc_b"), F.col("hs"), F.col("n_sh").alias("n_b")
    )
    cands = (
        a.join(b, "hs")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J >= tau requires den*min(n) >= num*max(n)
        .filter(
            den * F.least("n_a", "n_b") >= num * F.greatest("n_a", "n_b")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )

    # ---- verification: content-signature deduplicated + chunked -------
    arrays = sh.groupBy("_id").agg(
        F.array_sort(F.collect_set("hs")).alias("shs")
    )
    sig_of = arrays.select("_id", F.xxhash64("shs").alias("sig"))
    reps = arrays.select(F.xxhash64("shs").alias("sig"), "shs").dropDuplicates(
        ["sig"]
    )

    # Skinny doc-level candidate table annotated with canonical sig pair
    # — fixed-width longs only, never carries a shingle array per pair.
    sig_cands = (
        cands.join(sig_of.withColumnRenamed("_id", "doc_a"), "doc_a")
        .withColumnRenamed("sig", "sig_a")
        .join(sig_of.withColumnRenamed("_id", "doc_b"), "doc_b")
        .withColumnRenamed("sig", "sig_b")
        .select(
            "doc_a",
            "doc_b",
            F.least("sig_a", "sig_b").alias("sig_lo"),
            F.greatest("sig_a", "sig_b").alias("sig_hi"),
        )
    )
    # Identical shingle sets: jaccard is exactly 1.0, no array join.
    # The lit() guard keeps the short-circuit honest for a degenerate
    # threshold > 1 (where even jaccard = 1.0 must NOT pass); Catalyst
    # constant-folds it away in the normal tau <= 1 case.
    same = sig_cands.filter(F.col("sig_lo") == F.col("sig_hi")).select(
        "doc_a", "doc_b", F.lit(1.0).alias("jaccard")
    ).filter(F.lit(threshold_num <= threshold_den))
    sig_pairs = (
        sig_cands.filter(F.col("sig_lo") != F.col("sig_hi"))
        .select("sig_lo", "sig_hi")
        .distinct()
    )

    def _verify(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(reps.withColumnRenamed("sig", "sig_lo"), "sig_lo")
            .withColumnRenamed("shs", "shs_a")
            .join(reps.withColumnRenamed("sig", "sig_hi"), "sig_hi")
            .withColumnRenamed("shs", "shs_b")
            .select(
                "sig_lo",
                "sig_hi",
                F.size(F.array_intersect("shs_a", "shs_b")).alias("n_inter"),
                F.size("shs_a").alias("n_a"),
                F.size("shs_b").alias("n_b"),
            )
            .withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            )
            .filter(
                den * F.col("n_inter")
                >= num * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            )
            .select("sig_lo", "sig_hi", "jaccard")
        )

    if not eager:
        # Pure plan for inspection — no actions, no chunking.
        diff = sig_cands.join(_verify(sig_pairs), ["sig_lo", "sig_hi"])
        return same.unionByName(
            diff.select("doc_a", "doc_b", "jaccard")
        )

    sig_cands = sig_cands.persist()
    n_sig_pairs = sig_pairs.count()
    if n_sig_pairs <= verify_chunk_pairs:
        diff = sig_cands.join(_verify(sig_pairs), ["sig_lo", "sig_hi"])
        out = (
            same.unionByName(diff.select("doc_a", "doc_b", "jaccard"))
            .transform(truncate_lineage)
        )
        sig_cands.unpersist()
        prefix.unpersist()
        sh.unpersist()
        return out

    # Chunked write-through: peak memory = one chunk's array-carrying
    # join; verified sig-pairs land in scratch parquet, the doc-level
    # fan-back join is skinny-longs only and is also written through.
    from ..scratch import scratch_dir

    spark = docs.sparkSession
    n_chunks = -(-n_sig_pairs // verify_chunk_pairs)
    outdir = scratch_dir("jaccard_prefix_pairs")
    reps = reps.persist()
    chunked = sig_pairs.withColumn(
        "_chunk", F.pmod(F.xxhash64("sig_lo", "sig_hi"), F.lit(n_chunks))
    ).persist()
    for i in range(n_chunks):
        _verify(chunked.filter(F.col("_chunk") == i).drop("_chunk")).write.parquet(
            f"{outdir}/verdict/c{i}"
        )
    verdicts = spark.read.parquet(f"{outdir}/verdict/c*")
    diff = sig_cands.join(verdicts, ["sig_lo", "sig_hi"])
    same.unionByName(diff.select("doc_a", "doc_b", "jaccard")).write.parquet(
        f"{outdir}/pairs"
    )
    # localCheckpoint decouples the result from the scratch files (which
    # the generation rotation deletes two invocations later): the rows
    # are skinny fixed-width (doc_a, doc_b, jaccard), so block-manager
    # residency is cheap even at tens of millions of pairs, and the
    # returned DataFrame stays valid for the caller's whole session.
    out = spark.read.parquet(f"{outdir}/pairs").transform(truncate_lineage)
    chunked.unpersist()
    reps.unpersist()
    sig_cands.unpersist()
    prefix.unpersist()
    sh.unpersist()
    return out


def _srp_weight(plane_idx: int, d: int, dim: int) -> int:
    """Deterministic integer hyperplane component: popcount of 12 hash
    bits minus 6 — a binomial(12)-centered weight in [-6, 6], i.e. a
    discretized Gaussian by the CLT. Plain ±1 (Rademacher) components
    measured ~12 points worse recall on structured embeddings (0.76 vs
    0.88 at 12×3 on the fixture): with only a few dozen FIXED planes, a
    pair whose difference direction aligns badly with the ±1 lattice is
    systematically missed, while near-Gaussian weights restore the
    Charikar collision curve. Identical integer arithmetic restated by
    the SQL oracle (bit_count)."""
    h = ((plane_idx * dim) + d + 1) * 2654435761 % (2**31)
    return bin(h % 4096).count("1") - 6


#: Row gate for the gather-verify tier of :func:`srp_lsh_pairs` — the
#: kmeans-driver-budget envelope (64 Ki rows × 64 int64 dims ≈ 33 MB
#: broadcast). Above it the verify stays the shuffle-join path.
_SRP_GATHER_ROWS_MAX = 65536


def srp_lsh_pairs(
    embs: DataFrame,
    n_tables: int = 18,
    planes_per_table: int = 2,
    tau_num: int = 2,
    tau_den: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    quant: int = 1000,
    max_bucket_size: int | None = None,
    materialize: bool = True,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Signed-random-projection LSH near-dup pairs over an embedding
    column — the banded LSH candidate path for EMBEDDING space (the
    counterpart of MinHash-LSH for shingle space, and the "LSH-blocked
    pair producer" the group-clustering ops reference for 100 TB):
    each vector hashes to one bucket per table (sign bits of
    ``planes_per_table`` hyperplane projections, Charikar STOC'02),
    candidates are same-(table, bucket) pairs, and every candidate is
    verified with the exact integer cosine test (den²·dot² ≥
    num²·|a|²·|b|², dot > 0 — the semantic_dedup arithmetic).

    Determinism: hyperplane components are binomial(12)-centered
    integer weights derived from a Knuth multiplicative hash of the
    (plane, dim) index (see _srp_weight — discretized Gaussian, no
    RNG), so Spark and the SQL oracle build bit-identical tables. Recall is the
    standard banded-LSH curve 1-(1-p^planes)^tables with
    p = 1 - θ/π; at the default 18×2 and tau = 0.4 that is ~99.99%
    in theory and 98.5% measured on the fixture (pinned >= 90% by
    test) —
    the contract IS the banding (the oracle restates it exactly), and
    the exact `embedding_neardup_pairs` remains the 100%-recall twin.

    Scale: bucket assignment is ONE map-side Arrow-vectorized pass
    (an int64 matmul per batch against the (planes × dim) weight
    matrix — flat in plane count; see the _buckets comment for why the
    literal-expression draft lost); the quantized frame and the bucket
    table are each computed ONCE and cached (the bucket table feeds
    both sides of the candidate self-join plus the skew-guard count);
    candidates shuffle once on (table, bucket); the verify join
    carries quantized vectors only for candidate pairs.
    Bucket population concentrates when the corpus is center-massed —
    at production scale raise planes_per_table (buckets = 2^planes) the
    way IVF raises n_cells, and ``max_bucket_size`` is the same skew
    guard as MinHash-LSH's: a (table, bucket) cell wider than the cap
    is excluded from candidate generation IN THAT TABLE — a
    deterministic recall trade (the pair can still collide in another
    table) that bounds the per-cell join fan-out on center-massed
    corpora.

    Output: (id_a, id_b, cos) with id_a < id_b; cos is the double ratio
    of the SAME quantized integers on both engines.
    ``materialize=True`` (default) eagerly computes the (near-dup-
    volume-sized) result and unpersists the caches;
    ``materialize=False`` returns the lazy plan (leaking the persists)
    for plan audits, like duplicate_span_extents.

    ``corpus_rows`` (opt r13): the caller's known corpus row count (the
    auto-planes sizing already computes it). At or below
    ``_SRP_GATHER_ROWS_MAX`` the verify runs as a broadcast
    gather+int64-numpy-dot per pair instead of shuffling both quantized
    vectors to every candidate pair — bit-equal results (exact integer
    dot/norms, same cos expression), pinned by test. Lazy plan views
    keep the join shape (the gather tier's corpus collect is an action).
    """
    yq = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * quant)
    )
    q = embs.select(F.col(id_col).alias("_id"), yq.alias("y"))

    # Bucket assignment is Arrow-vectorized: one int64 matmul per batch
    # against the (planes × dim) weight matrix, sign bits folded per
    # table. A first draft used per-plane zip_with/aggregate expression
    # dots — higher-order lambdas evaluate interpreted, and n_tables ×
    # planes of them measured ~10 s for 2k rows at sf0.1; the matmul is
    # flat in plane count (the _best_cluster_np lesson, bit-equal ints).
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_planes = n_tables * planes_per_table
    W_mat = np.array(
        [
            [_srp_weight(p, d, dim) for d in range(dim)]
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )

    # Map-side norms are Arrow-vectorized (corpus-sized, one pass); the
    # PAIR-stage dot deliberately stays a JVM expression — at ~10M
    # candidate pairs the Arrow round trip must ship BOTH 64-int arrays
    # per pair out to Python and measured minutes where the interpreted
    # JVM fold finishes in ~97 s (probe r6): candidate volume is where
    # serialization, not arithmetic, dominates.
    @pandas_udf("bigint")
    def _pair_dot_norm(a: _pd.Series) -> _pd.Series:
        if len(a) == 0:
            return _pd.Series([], dtype="int64")
        A = np.stack([np.asarray(v, dtype=np.int64) for v in a])
        return _pd.Series((A * A).sum(axis=1))

    def _expr_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    @pandas_udf("array<bigint>")
    def _buckets(col: _pd.Series) -> _pd.Series:
        if len(col) == 0:
            return _pd.Series([], dtype="object")
        X = np.stack([np.asarray(v, dtype=np.int64) for v in col])
        S = (X @ W_mat.T) >= 0  # n × planes sign bits
        out = np.zeros((len(col), n_tables), dtype=np.int64)
        for j in range(planes_per_table):
            out += S[:, j::planes_per_table].astype(np.int64) << j
        return _pd.Series(list(out))

    # q carries the quantized vectors + norms (computed ONCE, reused by
    # both verify sides); hashed is the skinny (_id, t, bucket) table
    # feeding both self-join sides and the skew-guard count — persisted
    # so the matmul UDF runs one pass, not three.
    q = q.withColumn("n2", _pair_dot_norm(F.col("y"))).persist()
    hashed = q.select(
        "_id", F.posexplode(_buckets(F.col("y"))).alias("t", "bucket")
    ).persist()
    if max_bucket_size is not None:
        ok_cells = (
            hashed.groupBy("t", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("t", "bucket")
        )
        hashed = hashed.join(ok_cells, ["t", "bucket"])
    cands = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )

    qa = q.select(
        F.col("_id").alias("id_a"),
        F.col("y").alias("ya"),
        F.col("n2").alias("na"),
    )
    qb = q.select(
        F.col("_id").alias("id_b"),
        F.col("y").alias("yb"),
        F.col("n2").alias("nb"),
    )
    if (
        materialize
        and corpus_rows is not None
        and 0 < corpus_rows <= _SRP_GATHER_ROWS_MAX
    ):
        # GATHER verify tier (opt r13, guide §8: decide with small
        # rows, move big rows once — or here, not at all): the verify
        # join shipped both 64-int quantized vectors to EVERY candidate
        # pair (~840 MB of array shuffle for 817 k pairs of a 2 k-row
        # corpus at sf0.1), while the whole quantized corpus is a few
        # MB. Below the gate the corpus broadcasts once and each pair
        # scores as an int64 numpy gather+dot — exact integers, so
        # dot/na/nb (and the cos double ratio of them) are bit-equal to
        # the join+fold path (parity pinned in test_dedup.py). Above
        # the gate (or for lazy plan views, which must not run the
        # collect job) the shuffle-join path below stands unchanged —
        # it is the 100 TB shape.
        rows = sorted(
            q.select("_id", "y", "n2").collect(), key=lambda r: int(r["_id"])
        )
        ids = np.array([int(r["_id"]) for r in rows], dtype=np.int64)
        V = (
            np.stack([np.asarray(r["y"], dtype=np.int64) for r in rows])
            if rows
            else np.zeros((0, dim), dtype=np.int64)
        )
        N2 = np.array([int(r["n2"]) for r in rows], dtype=np.int64)
        bc = embs.sparkSession.sparkContext.broadcast((ids, V, N2))

        @pandas_udf("struct<dot:bigint,na:bigint,nb:bigint>")
        def _pair_score(a: _pd.Series, b: _pd.Series) -> _pd.DataFrame:
            ids_, V_, N2_ = bc.value
            # vectorized id -> row index (ids_ sorted at build time);
            # every candidate id exists in the corpus by construction
            ia = np.searchsorted(ids_, a.to_numpy(dtype=np.int64))
            ib = np.searchsorted(ids_, b.to_numpy(dtype=np.int64))
            return _pd.DataFrame(
                {
                    "dot": (V_[ia] * V_[ib]).sum(axis=1),
                    "na": N2_[ia],
                    "nb": N2_[ib],
                }
            )

        # non-deterministic mark (guide §4.4): the filter below
        # references the UDF's output — without the mark the pushed
        # filter re-evaluates the whole ArrowEvalPython a second time
        s = _pair_score.asNondeterministic()(F.col("id_a"), F.col("id_b"))
        out = (
            cands.withColumn("s", s)
            .filter(
                (F.col("s.dot") > 0)
                & (
                    F.lit(tau_den * tau_den)
                    * F.col("s.dot")
                    * F.col("s.dot")
                    >= F.lit(tau_num * tau_num)
                    * F.col("s.na")
                    * F.col("s.nb")
                )
            )
            .select(
                "id_a",
                "id_b",
                (
                    F.col("s.dot").cast("double")
                    / (
                        F.sqrt(F.col("s.na").cast("double"))
                        * F.sqrt(F.col("s.nb").cast("double"))
                    )
                ).alias("cos"),
            )
        )
        out = out.transform(truncate_lineage)
        hashed.unpersist()
        q.unpersist()
        return out
    out = (
        cands.join(qa, "id_a")
        .join(qb, "id_b")
        .withColumn("dot", _expr_dot(F.col("ya"), F.col("yb")))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(tau_den * tau_den) * F.col("dot") * F.col("dot")
                >= F.lit(tau_num * tau_num) * F.col("na") * F.col("nb")
            )
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cos"),
        )
    )
    if not materialize:
        return out
    out = out.transform(truncate_lineage)
    hashed.unpersist()
    q.unpersist()
    return out
