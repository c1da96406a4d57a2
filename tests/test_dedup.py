"""Dedup operators: exact, Jaccard, MinHash-LSH (vs exact), SimHash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_self_service_spark.catalog import load_table
from data_engineering_etl_self_service_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_dedup_exact_collapses_normalized_copies(spark):
    df = _docs(spark, ["Hello  World", "hello world", "other doc entirely"])
    out = dedup_exact(df).collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups == {0: 2, 2: 1}


def test_jaccard_identical_docs_score_1(spark):
    t = "a b c d e f g h i j"
    df = _docs(spark, [t, t, "completely different words here now ok yes sure fine"])
    out = jaccard_pairs(df, threshold=0.99).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(0, 1, 1.0)]


def test_minhash_lsh_equals_exact_on_corpus(spark, sf_dir):
    """LSH+verify must reproduce the exact-Jaccard result on real docs."""
    d = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(d, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(d, threshold=0.8).collect()
    }
    assert exact == lsh
    assert len(exact) > 0  # corpus has a real near-dup cluster


def test_simhash_finds_identical_docs(spark):
    t = "the quick brown fox jumps over the lazy dog today"
    df = _docs(spark, [t, t, "unrelated totally separate vocabulary set list items"])
    out = simhash_pairs(df, max_hamming=0).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in out] == [(0, 1, 0)]


def test_simhash_blocking_requires_enough_blocks():
    with pytest.raises(AssertionError):
        # max_hamming 4 with 4 blocks breaks pigeonhole completeness
        simhash_pairs.__wrapped__ if False else None
        from data_engineering_etl_self_service_spark.operators import dedup

        dedup.simhash_pairs(None, max_hamming=4, blocks=4)


def test_embedding_neardup_identical_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 2.0]), (1, [1.0, 0.0, 2.0]), (2, [-1.0, 5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = embedding_neardup_pairs(df, threshold=0.999).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].cos == pytest.approx(1.0)


def test_neardup_groups_transitive_closure(spark):
    """A-B and B-C similar (A-C not directly) must still share one group."""
    from data_engineering_etl_self_service_spark.operators.dedup import neardup_groups

    base = [f"w{i}" for i in range(30)]
    a = " ".join(base)
    b = " ".join(base[:-2] + ["x1", "x2"])          # ~similar to a
    c = " ".join(base[:-4] + ["x1", "x2", "x3", "x4"])  # similar to b, less to a
    d = " ".join(f"z{i}" for i in range(30))        # unrelated
    df = _docs(spark, [a, b, c, d])
    out = {r.doc_id: r.group_id for r in neardup_groups(df, threshold=0.6).collect()}
    assert out.get(0) == out.get(1) == out.get(2) == 0
    assert 3 not in out  # singleton never appears in the pair graph


def test_dedup_keep_best_policy(spark):
    """Among byte-identical texts, keep the longest n_chars (tie → lowest
    doc_id)."""
    from data_engineering_etl_self_service_spark.queries import QUERIES
    from pyspark.sql import functions as F, Window as W

    df = spark.createDataFrame(
        [
            (1, "same text", "en", "a", 9),
            (2, "same text", "en", "b", 12),   # winner: longest
            (3, "same text", "en", "c", 12),   # loses tie to doc 2
            (4, "other", "en", "a", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    w = W.partitionBy(F.md5("text")).orderBy(F.desc("n_chars"), "doc_id")
    kept = {
        r.doc_id
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert kept == {2, 4}


def test_minhash_incremental_equals_full_minus_corpus_pairs(spark, sf_dir):
    """The incremental batch-vs-corpus LSH must report exactly the pairs a
    full-corpus run reports, minus corpus-only pairs — no pair lost at the
    corpus/batch boundary, none invented, scores identical."""
    from pyspark.sql import functions as F

    from data_engineering_etl_self_service_spark.catalog import load_table
    from data_engineering_etl_self_service_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(d, k=3, threshold=0.8).collect()
    }
    expected = {
        p: j for p, j in full.items() if not (p[0] % 2 == 0 and p[1] % 2 == 0)
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_incremental(
            corpus, batch, k=3, threshold=0.8
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must actually contain cross/batch pairs"


def test_duplicate_span_extents_exact_fixture(spark):
    """Two docs sharing exactly an 8-token run: the 4 adjacent matching
    5-grams must merge into ONE span of 8 tokens at the right 1-based
    starts; boilerplate grams above the occurrence cap must not pair."""
    from data_engineering_etl_self_service_spark.operators.dedup import (
        duplicate_span_extents,
    )

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    boiler = " ".join(["b"] * 30)  # 'b b b b b' occurs 26x/doc -> capped out
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 {shared} u3"),
            (2, f"v1 {shared} v2 v3 v4"),
            (3, boiler),
            (4, boiler),
        ],
        "doc_id long, text string",
    )
    out = duplicate_span_extents(docs, k=5, max_gram_occ=16).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.span_tokens == 8
    assert (r.start_a, r.start_b) == (3, 2)


def test_drop_near_duplicates_keeps_one_per_cluster(spark):
    from data_engineering_etl_self_service_spark.operators.dedup import (
        drop_near_duplicates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),           # near-dup of 1
            (3, base + " extra words"),     # near-dup of 2 (and 1)
            (10, "completely different content about spark and parquet files"),
        ],
        "doc_id long, text string",
    )
    out = drop_near_duplicates(docs, k=3, threshold=0.6)
    assert sorted(r.doc_id for r in out.collect()) == [1, 10]
    assert set(out.columns) == {"doc_id", "text"}


def test_prefix_filter_equals_exact_on_corpus(spark, sf_dir):
    """AllPairs/PPJoin prefix filtering is lossless: candidate generation
    from frequency-ordered prefixes + exact verify must reproduce the
    all-pairs exact-Jaccard result on the real corpus."""
    from data_engineering_etl_self_service_spark.operators.dedup import jaccard_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(d, threshold=0.8).collect()
    }
    pf = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_prefix_pairs(d, threshold_num=4, threshold_den=5).collect()
    }
    assert exact == pf
    assert len(exact) > 0


def test_prefix_filter_borderline_threshold(spark):
    """Docs sharing exactly tau of their shingles sit ON the threshold:
    the integer prefix length must not round them out."""
    from data_engineering_etl_self_service_spark.operators.dedup import jaccard_prefix_pairs

    # 10 tokens -> 8 distinct 3-shingles each; overlap engineered high.
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"  # differs in last token only
    df = _docs(spark, [a, b])
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_prefix_pairs(df, threshold_num=3, threshold_den=4).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.75).collect()
    }
    assert out == exact and len(out) == 1


def test_prefix_filter_chunked_verify_equals_direct(spark, sf_dir):
    """Forcing verify_chunk_pairs=1 drives the chunked write-through
    verification path (one scratch-parquet chunk per distinct signature
    pair) — the round-5 fix for the ~20M-pair result-materialization
    OOM.  Output must be identical to the direct path."""
    from data_engineering_etl_self_service_spark.operators.dedup import jaccard_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    direct = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_prefix_pairs(d, threshold_num=4, threshold_den=5).collect()
    }
    chunked = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_prefix_pairs(
            d, threshold_num=4, threshold_den=5, verify_chunk_pairs=1
        ).collect()
    }
    assert chunked == direct and len(direct) > 0


def test_prefix_filter_signature_shortcut_identical_sets(spark):
    """Docs whose shingle SETS are identical (same tokens, any order of
    repeated shingles) short-circuit through the content-signature path
    to jaccard exactly 1.0 without an array join."""
    from data_engineering_etl_self_service_spark.operators.dedup import jaccard_prefix_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(spark, [t, t, t + " alpha beta gamma"])  # 3rd: same 3-shingle set? no
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_prefix_pairs(df, threshold_num=4, threshold_den=5).collect()
    }
    assert out[(0, 1)] == 1.0


def test_prefix_filter_degenerate_threshold_above_one(spark):
    """A threshold > 1 is unsatisfiable — even identical shingle sets
    (jaccard exactly 1.0) must NOT pass; the signature short-circuit
    honors the filter (round-6 ADVICE fix)."""
    from data_engineering_etl_self_service_spark.operators.dedup import jaccard_prefix_pairs

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(spark, [t, t])
    assert (
        jaccard_prefix_pairs(df, threshold_num=6, threshold_den=5).count() == 0
    )


def test_prefix_filter_chunked_result_survives_scratch_rotation(spark, sf_dir):
    """The chunked write-through result is localCheckpoint-ed off its
    scratch parquet, so it stays readable after later invocations of the
    same operator rotate (delete) the scratch generation that produced
    it (round-6 ADVICE fix)."""
    from data_engineering_etl_self_service_spark.operators.dedup import jaccard_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    held = jaccard_prefix_pairs(
        d, threshold_num=4, threshold_den=5, verify_chunk_pairs=1
    )
    n0 = held.count()
    # two more chunked invocations advance the scratch generation twice,
    # deleting the generation backing `held` were it still parquet-backed
    for _ in range(2):
        jaccard_prefix_pairs(
            d.limit(40), threshold_num=4, threshold_den=5, verify_chunk_pairs=1
        ).count()
    assert held.count() == n0 > 0


def test_scrub_removes_planted_cross_doc_span(spark):
    """A 7-token run planted in two docs is covered by duplicated
    5-grams in both; every covered token is cut, the unique remainder
    survives, and the scrubbed text is the kept tokens in order."""
    from data_engineering_etl_self_service_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    span = "the quick brown fox jumps over fences"
    docs = _docs(
        spark,
        [
            f"alpha bravo {span} charlie delta",
            f"echo foxtrot golf {span} hotel",
            "india juliet kilo lima mike november oscar",
        ],
    )
    out = {r.doc_id: r for r in scrub_duplicate_spans(docs).collect()}
    assert out[0].n_dup_tokens == 7 and out[1].n_dup_tokens == 7
    assert out[2].n_dup_tokens == 0
    assert out[0].n_kept_tokens == 4 and out[1].n_kept_tokens == 4
    assert out[2].n_kept_tokens == 7
    # md5 certifies the exact reconstruction
    import hashlib

    assert out[0].scrub_md5 == hashlib.md5(
        b"alpha bravo charlie delta"
    ).hexdigest()


def test_scrub_counts_within_doc_repeats(spark):
    """Occurrence is TOTAL corpus count, so a 5-gram repeated twice
    within ONE doc is eligible and both occurrences are scrubbed."""
    from data_engineering_etl_self_service_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    g = "one two three four five"
    docs = _docs(spark, [f"{g} unique middle words {g}"])
    r = scrub_duplicate_spans(docs).collect()[0]
    assert r.n_dup_tokens == 10 and r.n_kept_tokens == 3


def test_scrub_short_docs_and_band_cap(spark):
    """Docs shorter than k have no grams (fully kept); a gram above the
    occurrence cap is boilerplate by contract and NOT scrubbed."""
    from data_engineering_etl_self_service_spark.operators.dedup import (
        scrub_duplicate_spans,
    )

    docs = _docs(spark, ["tiny doc here"] + ["common words repeat here now"] * 5)
    out = {r.doc_id: r for r in scrub_duplicate_spans(
        docs, max_gram_occ=4
    ).collect()}
    assert out[0].n_dup_tokens == 0  # < k tokens, no grams
    for i in range(1, 6):  # 5 occurrences > cap 4 -> band-excluded
        assert out[i].n_dup_tokens == 0


def test_srp_lsh_subset_of_exact_with_pinned_recall(spark, sf_dir):
    """SRP-LSH pairs are a SUBSET of the exact integer-cosine pair set
    (verification admits no false positives), and banded recall at the
    default 18x2 / tau=2/5 stays >= 90% on the fixture (98.5%
    measured; binomial-weight hyperplanes — see _srp_weight)."""
    from pyspark.sql import functions as F

    from data_engineering_etl_self_service_spark.operators.dedup import (
        srp_lsh_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.id_a, r.id_b)
        for r in srp_lsh_pairs(e, tau_num=2, tau_den=5).collect()
    }
    # exact twin under the IDENTICAL quantized integer criterion
    yq = F.transform(F.col("embedding"), lambda x: F.floor(x * 1000.0))
    q = e.select(F.col("vec_id").alias("_id"), yq.alias("y"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    qa = q.select(F.col("_id").alias("id_a"), F.col("y").alias("ya"))
    qb = q.select(F.col("_id").alias("id_b"), F.col("y").alias("yb"))
    exact = {
        (r.id_a, r.id_b)
        for r in qa.join(qb, F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot(F.col("ya"), F.col("yb")))
        .withColumn("na", dot(F.col("ya"), F.col("ya")))
        .withColumn("nb", dot(F.col("yb"), F.col("yb")))
        .filter(
            (F.col("dot") > 0)
            & (25 * F.col("dot") * F.col("dot") >= 4 * F.col("na") * F.col("nb"))
        )
        .select("id_a", "id_b")
        .collect()
    }
    assert got <= exact
    assert len(exact) > 0
    assert len(got) / len(exact) >= 0.9


def test_components_driver_tier_matches_distributed_loop(spark, monkeypatch):
    """opt r13: below the pair budget, connected components resolve on
    the driver via union-find with min-root. Labels must be IDENTICAL
    to the distributed min-label-propagation loop (root == component
    min == the propagation fixed point), on a graph with chains,
    cycles, a star, and singleton-free pair structure."""
    from data_engineering_etl_self_service_spark import runtime
    from data_engineering_etl_self_service_spark.operators.dedup import (
        components_from_pairs,
    )

    pair_list = (
        [(i, i + 1) for i in range(1, 8)]  # chain 1..8
        + [(10, 12), (12, 14), (10, 14)]  # cycle
        + [(20, 21), (20, 22), (20, 23)]  # star
        + [(31, 30)]  # min on the b side
    )
    pairs = spark.createDataFrame(pair_list, "doc_a long, doc_b long")

    def run():
        return sorted(
            tuple(r)
            for r in components_from_pairs(pairs, "doc_a", "doc_b").collect()
        )

    with monkeypatch.context() as m:
        m.setattr(runtime, "DRIVER_TIER_ROWS", 0)  # force distributed
        dist = run()
    drv = run()  # default budget: driver tier
    assert drv == dist
    groups = dict(drv)
    assert groups[8] == 1 and groups[14] == 10 and groups[23] == 20
    assert groups[31] == 30


def test_srp_gather_verify_tier_is_bit_equal(spark, sf_dir):
    """opt r13: below the corpus_rows gate the verify runs as a
    broadcast gather + int64 numpy dot per candidate pair instead of
    shuffling both quantized vectors to every pair. Exact integer
    arithmetic on both paths — the (id_a, id_b, cos) rows must be
    BIT-identical, cos included."""
    from data_engineering_etl_self_service_spark.operators.dedup import (
        srp_lsh_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    join_rows = sorted(
        tuple(r) for r in srp_lsh_pairs(e, tau_num=2, tau_den=5).collect()
    )
    gather_rows = sorted(
        tuple(r)
        for r in srp_lsh_pairs(
            e, tau_num=2, tau_den=5, corpus_rows=n
        ).collect()
    )
    assert gather_rows == join_rows
    assert len(join_rows) > 0


def test_srp_hyperplanes_are_deterministic():
    from data_engineering_etl_self_service_spark.operators.dedup import (
        _srp_weight,
    )

    a = [_srp_weight(p, d, 64) for p in range(36) for d in range(64)]
    b = [_srp_weight(p, d, 64) for p in range(36) for d in range(64)]
    assert a == b
    # binomial(12)-6 weights: bounded, centered, not degenerate
    assert all(-6 <= w <= 6 for w in a)
    assert abs(sum(a) / len(a)) < 0.5
    assert len(set(a)) >= 7


def test_srp_max_bucket_size_guard(spark, sf_dir):
    """The SRP skew guard: cells wider than the cap are excluded from
    candidate generation per table (deterministic recall trade), so a
    tiny cap strictly shrinks the output and cap=corpus-size changes
    nothing."""
    from data_engineering_etl_self_service_spark.operators.dedup import (
        srp_lsh_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    full = srp_lsh_pairs(e).count()
    uncapped = srp_lsh_pairs(e, max_bucket_size=n).count()
    tiny = srp_lsh_pairs(e, max_bucket_size=5).count()
    assert uncapped == full
    assert tiny < full


def test_entity_groups_canonical_semantics(spark, sf_dir):
    """entity_groups: every entity has >= 2 members, its id is the
    minimum member key, the canonical name belongs to that key, and the
    member list is sorted and '+'-joined."""
    from data_engineering_etl_self_service_spark.queries import QUERIES

    rows = QUERIES["entity_groups"](spark, sf_dir).collect()
    assert rows, "fixture should contain fuzzy-duplicate customers"
    cust = {
        r["c_custkey"]: r["c_name"]
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    for r in rows:
        keys = [int(k) for k in r["member_keys"].split("+")]
        assert r["n_members"] == len(keys) >= 2
        assert keys == sorted(keys)
        assert r["entity_id"] == keys[0]
        assert r["canonical_name"] == cust[keys[0]]
