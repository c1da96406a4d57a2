"""BPE training: parity with a pure-Python reference implementation."""

from __future__ import annotations

from collections import Counter

from data_engineering_etl_self_service_spark.operators.bpe import bpe_train


def _ref_bpe(word_counts: dict[str, int], n_merges: int):
    """Classic dictionary BPE (Sennrich et al.): greedy left-to-right
    merge, argmax by (count desc, left asc, right asc)."""
    vocab = {w: list(w) for w in word_counts}
    rules = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for w, sym in vocab.items():
            c = word_counts[w]
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (x, y), _ = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((rank, x, y, x + y))
        for w, sym in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == x and sym[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            vocab[w] = out
    return rules


def test_bpe_train_matches_reference(spark):
    wc = {
        "low": 5,
        "lower": 2,
        "newest": 6,
        "widest": 3,
        "aaa": 4,  # overlap: greedy must give [aa, a]
        "x": 1,  # single symbol, never merges
    }
    df = spark.createDataFrame(list(wc.items()), "w string, c long")
    got = bpe_train(df, n_merges=10)
    assert got == _ref_bpe(wc, 10)
    assert len(got) == 10


def test_bpe_train_stops_when_exhausted(spark):
    df = spark.createDataFrame([("ab", 1), ("c", 9)], "w string, c long")
    got = bpe_train(df, n_merges=5)
    # one possible merge (a,b); afterwards every word is one symbol
    assert got == [(1, "a", "b", "ab")]


def test_bpe_pipe_symbols_fold_correctly(spark):
    """'|' is an ordinary character (the fold delimiter is 0x1f): words
    containing pipes must train the same rules as the reference."""
    wc = {"a|b": 5, "a|c": 4, "||": 3}
    df = spark.createDataFrame(list(wc.items()), "w string, c long")
    got = bpe_train(df, n_merges=4)
    assert got == _ref_bpe(wc, 4)


def test_bpe_delimiter_words_excluded(spark):
    """Words containing the 0x1f delimiter are deterministically dropped
    from training (documented contract) instead of corrupting folds."""
    wc = {"ab": 3, "a\x1fb": 100}
    df = spark.createDataFrame(list(wc.items()), "w string, c long")
    got = bpe_train(df, n_merges=2)
    assert got == _ref_bpe({"ab": 3}, 2)


def _ref_wordpiece(word_counts: dict[str, int], n_merges: int):
    """Pure-Python WordPiece reference: floored integer likelihood ratio
    at 1e-12, ties by (count desc, left asc, right asc), same greedy
    left-to-right fold as BPE."""
    vocab = {w: list(w) for w in word_counts}
    rules = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        uni: Counter = Counter()
        for w, sym in vocab.items():
            c = word_counts[w]
            for s in sym:
                uni[s] += c
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        scored = {
            (a, b): (cnt * 10**12) // (uni[a] * uni[b])
            for (a, b), cnt in pairs.items()
        }
        (x, y) = min(
            scored,
            key=lambda k: (-scored[k], -pairs[k], k[0], k[1]),
        )
        rules.append(
            (rank, x, y, x + y, scored[(x, y)], pairs[(x, y)])
        )
        for w, sym in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == x and sym[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            vocab[w] = out
    return rules


def test_wordpiece_matches_reference_and_differs_from_bpe(spark):
    """wordpiece_train matches the pure-Python likelihood-ratio
    reference exactly — and on a corpus where a rare-but-exclusive pair
    coexists with a frequent-but-promiscuous one, WordPiece and BPE
    pick DIFFERENT first merges (the point of the other family)."""
    from data_engineering_etl_self_service_spark.operators.bpe import (
        wordpiece_train,
    )

    # 'qu' is rare but q NEVER occurs without u (likelihood winner);
    # 'th' is frequent but t and h are everywhere (frequency winner).
    wc = {
        "queen": 3,
        "quit": 2,
        "the": 30,
        "then": 20,
        "tin": 15,
        "hat": 15,
        "net": 10,
    }
    df = spark.createDataFrame(list(wc.items()), "w string, c long")
    got = wordpiece_train(df, n_merges=4)
    assert got == _ref_wordpiece(wc, 4)
    assert got[0][1:3] == ("q", "u")  # likelihood picks qu first
    bpe = bpe_train(df, n_merges=1)
    assert bpe[0][1:3] != ("q", "u")  # frequency does not


def test_wordpiece_segment_greedy_longest_match(spark):
    from data_engineering_etl_self_service_spark.operators.bpe import (
        wordpiece_segment_types,
    )

    # rules only need slot [3] (the merged token) for inference
    rules = [
        (1, "t", "h", "th", 0, 0),
        (2, "th", "e", "the", 0, 0),
        (3, "i", "n", "in", 0, 0),
        (4, "in", "g", "ing", 0, 0),
    ]
    df = spark.createDataFrame(
        [("thing", 5), ("theme", 4), ("xyzzy", 3), ("the", 2), ("", 1)],
        "w string, c long",
    )
    got = {
        r.word: (r.n_subwords, r.segmented)
        for r in wordpiece_segment_types(df, rules).collect()
    }
    # 'the' does not prefix 'thing' -> 'th' wins, then 'ing'
    assert got["thing"] == (2, "th+ing")
    # longest-first: 'the' beats 'th' when it fits
    assert got["theme"] == (3, "the+m+e")
    # no merged token applies -> per-char fallback keeps the op total
    assert got["xyzzy"] == (5, "x+y+z+z+y")
    assert got["the"] == (1, "the")
    assert got[""] == (0, "")


def test_unigram_vocab_seed_rules(spark):
    from data_engineering_etl_self_service_spark.operators.bpe import (
        unigram_vocab,
    )

    df = spark.createDataFrame([("abab", 2), ("ab", 3)], "w string, c long")
    got = {
        r.tok: r.cnt for r in unigram_vocab(df, max_len=3, top_k=100).collect()
    }
    # weighted by count, every occurrence position counts
    assert got["a"] == 2 * 2 + 3 and got["b"] == 2 * 2 + 3
    assert got["ab"] == 2 * 2 + 3  # positions 0 and 2 in 'abab', 0 in 'ab'
    assert got["ba"] == 2
    assert got["aba"] == 2 and got["bab"] == 2
    # top_k caps only the length>=2 pieces; singles always survive
    capped = {
        r.tok
        for r in unigram_vocab(df, max_len=3, top_k=1).collect()
    }
    assert "a" in capped and "b" in capped
    assert len([t for t in capped if len(t) > 1]) == 1
    assert "ab" in capped  # freq DESC, tok ASC picks 'ab'


def test_unigram_viterbi_ml_path_and_ties(spark):
    from data_engineering_etl_self_service_spark.operators.bpe import (
        unigram_segment_types,
    )

    # vocab probs: 'ab' dominant -> 'abab' = ab+ab beats char path
    vocab = [("a", 10), ("b", 10), ("ab", 60), ("ba", 10), ("aba", 10)]
    total = 100
    df = spark.createDataFrame(
        [("abab", 1), ("aa", 1), ("xq", 1)], "w string, c long"
    )
    got = {
        r.word: (r.n_pieces, r.segmented, r.prob)
        for r in unigram_segment_types(df, vocab, total).collect()
    }
    assert got["abab"][1] == "ab+ab"
    assert got["abab"][2] == (60 / 100) * (60 / 100)
    # 'aa': only char path
    assert got["aa"][1] == "a+a"
    # unknown chars fall back to 1/total pieces, op stays total
    assert got["xq"] == (2, "x+q", (1 / 100) * (1 / 100))

    # tie: 'cc' with p(c)=p(cc) as exact doubles -> longer piece wins
    vocab2 = [("c", 25), ("cc", 25)]
    got2 = {
        r.word: (r.segmented, r.prob)
        for r in unigram_segment_types(
            spark.createDataFrame([("cc", 1)], "w string, c long"), vocab2, 100
        ).collect()
    }
    # char path prob = 0.25*0.25 = 0.0625 < 0.25 -> 'cc' wins on value
    assert got2["cc"] == ("cc", 0.25)
    # genuine tie needs equal PATH values: p(dd)=p(d)^2 exactly
    vocab3 = [("d", 16), ("dd", 4)]  # (16/64)^2 = 1/16 == 4/64
    got3 = {
        r.word: (r.segmented, r.prob)
        for r in unigram_segment_types(
            spark.createDataFrame([("dd", 1)], "w string, c long"), vocab3, 64
        ).collect()
    }
    assert got3["dd"] == ("dd", 4 / 64)  # longer final piece on tie


def test_unigram_hard_em_prunes_and_recounts(spark):
    from data_engineering_etl_self_service_spark.operators.bpe import (
        unigram_hard_em_counts,
    )

    # 'ab' dominates -> 'abab' segments ab+ab; 'ba'/'aba' never chosen
    vocab = [("a", 10), ("b", 10), ("ab", 60), ("ba", 10), ("aba", 10)]
    df = spark.createDataFrame(
        [("abab", 5), ("a", 2)], "w string, c long"
    )
    got = {
        r.tok: r.cnt
        for r in unigram_hard_em_counts(df, vocab, 100).collect()
    }
    # M-step: corpus-weighted piece usage in the best segmentations
    assert got == {"ab": 10, "a": 2}  # 'abab'x5 -> 2 'ab' each; 'a'x2
    # the prune fell out: ba/aba/b carry no rows at all


def test_driver_tier_matches_distributed_loop(spark, monkeypatch):
    """The ≤runtime.DRIVER_TIER_ROWS driver tier must produce
    bit-identical rules to the distributed merge rounds — both for BPE
    (count argmax) and WordPiece (floored likelihood-ratio argmax). Run
    the same word-type table through both paths by patching the
    budget."""
    from data_engineering_etl_self_service_spark import runtime
    from data_engineering_etl_self_service_spark.operators.bpe import (
        bpe_train,
        wordpiece_train,
    )

    words = spark.createDataFrame(
        [("lower", 5), ("lowest", 3), ("newer", 6), ("wider", 2),
         ("new", 7), ("aaa", 4), ("", 2)],
        "w string, c long",
    )
    with monkeypatch.context() as m:
        m.setattr(runtime, "DRIVER_TIER_ROWS", 0)  # force distributed
        dist_bpe = bpe_train(words, n_merges=6)
        dist_wp = wordpiece_train(words, n_merges=6)
    local_bpe = bpe_train(words, n_merges=6)
    local_wp = wordpiece_train(words, n_merges=6)
    assert local_bpe == dist_bpe
    assert local_wp == dist_wp


def test_driver_tier_budget_and_astral_fallback(spark, monkeypatch):
    """Above-budget or astral-char word tables must take the
    distributed path (the probe hands off a frame instead of rows):
    astral chars split per UTF-16 unit in the JVM, which list(w) would
    not mirror."""
    from data_engineering_etl_self_service_spark import runtime
    from data_engineering_etl_self_service_spark.operators.bpe import (
        _take_type_table,
    )

    words = spark.createDataFrame(
        [("abc", 1), ("abd", 2), ("xyz", 3)], "w string, c long"
    )
    everything = [("abc", 1), ("abd", 2), ("xyz", 3)]

    def handed_off(wc_frame):
        wc, frame = wc_frame
        assert wc is None
        return sorted(tuple(r) for r in frame.collect())

    with monkeypatch.context() as m:
        m.setattr(runtime, "DRIVER_TIER_ROWS", 2)  # over budget
        assert handed_off(_take_type_table(words, "w", "c")) == everything
        m.setattr(runtime, "DRIVER_TIER_ROWS", 0)  # budget-0 hand-off
        assert handed_off(_take_type_table(words, "w", "c")) == everything
    got, frame = _take_type_table(words, "w", "c")
    assert frame is None
    assert sorted(got) == everything
    astral = spark.createDataFrame([("a\U0001F600b", 1)], "w string, c long")
    assert handed_off(_take_type_table(astral, "w", "c")) == [
        ("a\U0001F600b", 1)
    ]
