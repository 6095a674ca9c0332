"""BPE tokenizer training/encoding semantics.

The classic worked example (Sennrich et al. 2016 §3.2 shape; the counts are
the standard five-word corpus) pins the merge order; the synthetic-word tests
pin the left-to-right non-overlap fold and the tie-break. Cross-engine parity
at sf0.001/sf0.01 is covered by tests/test_oracles.py via the
registered ``bpe_train_merges`` / ``docs_bpe_tokens`` oracles.
"""

import pytest
from pyspark.sql import functions as F

from spark_ensemble_spark.operators import tokenizer as tk

CORPUS = [("hug", 10), ("pug", 5), ("pun", 12), ("bun", 4), ("hugs", 5)]


@pytest.fixture(scope="module")
def vocab(spark):
    return spark.createDataFrame(CORPUS, "w string, cnt long")


def test_bpe_train_worked_example(vocab):
    """hug:10 pug:5 pun:12 bun:4 hugs:5 → (u,g)@20, (u,n)@16, (h,ug)@15."""
    merges = tk.bpe_train(None, vocab=vocab, num_merges=3).orderBy("merge_rank")
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count) for r in merges.collect()]
    assert got == [(0, "u", "g", 20), (1, "u", "n", 16), (2, "h", "ug", 15)]


def test_bpe_train_runs_dry(spark):
    """Single-symbol words have no pairs: training stops at zero merges."""
    v = spark.createDataFrame([("a", 5), ("b", 3)], "w string, cnt long")
    assert tk.bpe_train(None, vocab=v, num_merges=4).count() == 0


def test_bpe_train_tiebreak_lexicographic(spark):
    """Equal pair counts break on (lhs, rhs) ascending — 'ab' and 'cd' both
    count 1; (a,b) wins."""
    v = spark.createDataFrame([("cd", 1), ("ab", 1)], "w string, cnt long")
    r = tk.bpe_train(None, vocab=v, num_merges=1).collect()[0]
    assert (r.lhs, r.rhs, r.pair_count) == ("a", "b", 1)


def test_apply_merge_non_overlapping(spark):
    """aaaa under (a,a) → aa|aa; aaa → aa|a (a merged symbol is never
    re-consumed as the LHS within the same pass)."""
    df = spark.createDataFrame([("aaaa",), ("aaa",), ("ba",)], "w string")
    out = df.select(
        "w", F.split(tk.segment_expr(F.col("w"), [("a", "a")]), tk.SEP).alias("t")
    ).collect()
    got = {r.w: r.t for r in out}
    assert got == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"], "ba": ["b", "a"]}


def test_apply_merge_requires_exact_symbol(spark):
    """LHS must match a whole symbol: 'ba' followed by 'c' does NOT merge
    under (a,c) — the separator-anchored suffix test cannot fire mid-symbol."""
    df = spark.createDataFrame([("bac",)], "w string")
    # first merge (b,a) builds symbol 'ba'; then (a,c) must not touch it
    segs = df.select(
        F.split(tk.segment_expr(F.col("w"), [("b", "a"), ("a", "c")]), tk.SEP).alias(
            "t"
        )
    ).collect()[0].t
    assert segs == ["ba", "c"]


def test_bpe_token_counts_by_hand(spark):
    """After merges (u,g)+(h,ug): 'hug hug pun'→4 tokens (hug=1, pun=3);
    empty-text docs drop (no words — same as the SQL replay)."""
    docs = spark.createDataFrame(
        [(1, "hug hug pun"), (2, "hugs bun"), (3, "")],
        "doc_id long, text string",
    )
    out = tk.bpe_token_counts(docs, [("u", "g"), ("h", "ug")])
    got = {r.doc_id: r.n_tokens for r in out.collect()}
    assert got == {1: 1 + 1 + 3, 2: 2 + 3}


def test_segment_concat_recovers_word(spark, sf_dir):
    """Invariant: segmentation is a partition of the word — concatenating
    the symbols recovers the original word for every vocab entry, under the
    merges actually learned from the fixture corpus."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs)
        for r in tk.bpe_train(docs, num_merges=6).orderBy("merge_rank").collect()
    ]
    assert len(merges) == 6
    vocab = tk.word_counts(docs)
    bad = vocab.select(
        "w",
        F.array_join(
            F.split(tk.segment_expr(F.col("w"), merges), tk.SEP), ""
        ).alias("glued"),
    ).filter(F.col("w") != F.col("glued"))
    assert bad.count() == 0


def test_bpe_merges_save_load_roundtrip(spark, tmp_path):
    """Train → save → load → encode equals encode-with-fresh-merges; a
    second save (re-train) overwrites cleanly."""
    from spark_ensemble_spark.operators.tokenizer import (
        bpe_token_counts,
        load_bpe_merges,
        save_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "hug hug pun"), (2, "hugs bun pun pun")], "doc_id long, text string"
    )
    merges = [
        (r.lhs, r.rhs)
        for r in tk.bpe_train(docs, num_merges=3).orderBy("merge_rank").collect()
    ]
    path = str(tmp_path / "bpe_merges.json")
    save_bpe_merges(spark, merges, path)
    loaded = load_bpe_merges(path)
    assert loaded == merges
    fresh = sorted(
        (r.doc_id, r.n_tokens) for r in bpe_token_counts(docs, merges).collect()
    )
    replay = sorted(
        (r.doc_id, r.n_tokens) for r in bpe_token_counts(docs, loaded).collect()
    )
    assert fresh == replay
    save_bpe_merges(spark, merges[:1], path)  # overwrite, no torn second line
    assert load_bpe_merges(path) == merges[:1]


def test_bpe_train_grouped_independent_trajectories(spark):
    """Two groups with different vocabularies learn DIFFERENT merges in the
    same lockstep loop; a group that runs dry early simply stops
    contributing rows while the other continues."""
    rows = (
        [("g1", "hug hug hug pun pun")] * 3      # g1: (u,g) first
        + [("g2", "lo lo lo lo wi")] * 2          # g2: (l,o) first, dries fast
    )
    df = spark.createDataFrame([(g, t) for g, t in rows], "grp string, text string")
    out = tk.bpe_train_grouped(df, "grp", num_merges=4).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.grp, []).append((r.merge_rank, r.lhs, r.rhs, r.pair_count))
    g1 = sorted(by_g["g1"])
    g2 = sorted(by_g["g2"])
    # g1: hug x9, pun x6 -> (u,g)@9 wins round 0 (ties: (h,u)@9? h<u so (h,u))
    assert g1[0][1:3] in {("h", "u"), ("u", "g")}
    # g2 vocab: lo x8, wi x2 -> round0 (l,o)@8; round1 (w,i)@2; then dry
    assert g2[0][1:3] == ("l", "o") and g2[1][1:3] == ("w", "i")
    assert len(g2) == 2  # dry after every word is one symbol
    assert len(g1) == 4  # still merging at round 3


def test_bpe_vocab_by_hand(spark):
    """Corpus 'hug hug pun' under merges (u,g)+(h,ug): tokens hug x2,
    p/u/n x1 each → ids by freq desc then token asc."""
    from spark_ensemble_spark.operators.tokenizer import bpe_vocab

    docs = spark.createDataFrame([(1, "hug hug pun")], "doc_id long, text string")
    got = {
        r.token: (r.freq, r.token_id)
        for r in bpe_vocab(docs, [("u", "g"), ("h", "ug")]).collect()
    }
    assert got == {"hug": (2, 1), "n": (1, 2), "p": (1, 3), "u": (1, 4)}


def test_bpe_encode_ids_by_hand(spark):
    """'hug hug pun' under (u,g)+(h,ug): vocab ids hug=1,n=2,p=3,u=4 →
    sequence [1, 1, 3, 4, 2] in document order."""
    from spark_ensemble_spark.operators.tokenizer import bpe_encode_ids

    docs = spark.createDataFrame([(1, "hug hug pun")], "doc_id long, text string")
    r = bpe_encode_ids(docs, [("u", "g"), ("h", "ug")]).collect()[0]
    assert r.n_tokens == 5
    assert list(r.token_ids) == [1, 1, 3, 4, 2]


def test_bpe_encode_ids_frozen_vocab_oov(spark):
    """Applying a FROZEN tokenizer to unseen text: post-merge symbols
    missing from the frozen vocab map to unk_id without dropping
    positions."""
    from spark_ensemble_spark.operators.tokenizer import bpe_encode_ids

    frozen = spark.createDataFrame(
        [("hug", 1), ("p", 2), ("u", 3), ("n", 4)], "token string, token_id int"
    )
    unseen = spark.createDataFrame(
        [(1, "hug zap pun")], "doc_id long, text string"
    )
    r = bpe_encode_ids(
        unseen, [("u", "g"), ("h", "ug")], vocab_ids=frozen, unk_id=0
    ).collect()[0]
    # 'zap' -> z,a,p: z and a are OOV -> 0, p -> 2; pun -> p,u,n
    assert list(r.token_ids) == [1, 0, 0, 2, 2, 3, 4]
    assert r.n_tokens == 7


def test_bpe_words_strip_sep(spark):
    """A word containing the \\x1e symbol separator is cleaned at the
    ingestion boundary (r7 ADVICE: whitespace tokenization keeps control
    chars, and a SEP inside a word corrupts symbol boundaries in BOTH
    engines identically — oracles can't catch it). 'a\\x1eb' trains and
    encodes exactly like 'ab'; a SEP-only word vanishes."""
    dirty = spark.createDataFrame(
        [(1, "a\x1eb a\x1eb \x1e zz")], "doc_id long, text string"
    )
    clean = spark.createDataFrame([(1, "ab ab zz")], "doc_id long, text string")
    got_d = {(r.w, r.cnt) for r in tk.word_counts(dirty).collect()}
    got_c = {(r.w, r.cnt) for r in tk.word_counts(clean).collect()}
    assert got_d == got_c == {("ab", 2), ("zz", 1)}
    cnt_d = tk.bpe_token_counts(dirty, [("a", "b")]).collect()[0].n_tokens
    cnt_c = tk.bpe_token_counts(clean, [("a", "b")]).collect()[0].n_tokens
    assert cnt_d == cnt_c == 2 + 2  # ab ab -> 1+1 tokens, zz -> 2
    # per-row streaming expression agrees
    expr = tk.token_count_expr(F.col("text"), [("a", "b")])
    assert dirty.select(expr.alias("n")).collect()[0].n == 4


def test_bpe_encode_ids_word_sep_by_hand(spark):
    """word_sep_id=-1 interleaves the separator between words only:
    'hug hug pun' → [1, -1, 1, -1, 3, 4, 2]."""
    docs = spark.createDataFrame([(1, "hug hug pun")], "doc_id long, text string")
    r = tk.bpe_encode_ids(
        docs, [("u", "g"), ("h", "ug")], word_sep_id=-1
    ).collect()[0]
    assert list(r.token_ids) == [1, -1, 1, -1, 3, 4, 2]
    assert r.n_tokens == 7


def test_bpe_decode_roundtrip_property(spark):
    """decode(encode(doc, word_sep_id=-1)) == normalized(doc) — lowercase,
    trim, whitespace runs collapsed, SEP stripped — for hand-picked
    adversarial texts (tabs, repeated spaces, case, control SEP, unicode)."""
    texts = [
        "Hello  World",
        "  padded\tboth\tends  ",
        "a\x1eb mixed\x1e case",
        "ONE",
        "repeat repeat repeat",
        "ünïcode wörds",
        "x",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [("l", "l"), ("h", "e"), ("r", "e"), ("o", "r")]
    vids = tk.bpe_vocab(docs, merges).select("token", "token_id")
    enc = tk.bpe_encode_ids(docs, merges, vocab_ids=vids, word_sep_id=-1)
    dec = tk.bpe_decode_ids(enc, vids, word_sep_id=-1)
    import re

    got = {r.doc_id: r.text for r in dec.collect()}
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.replace("\x1e", "").lower().strip())
        norm = " ".join(w for w in norm.split(" ") if w)
        assert got[i] == norm, (t, got[i], norm)


def test_bpe_decode_roundtrip_fixture(spark, sf_dir):
    """Round-trip over the real fixture corpus under merges learned from
    it: every document's decode equals its normalized text."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs)
        for r in tk.bpe_train(docs, num_merges=4).orderBy("merge_rank").collect()
    ]
    vids = tk.bpe_vocab(docs, merges).select("token", "token_id")
    enc = tk.bpe_encode_ids(docs, merges, vocab_ids=vids, word_sep_id=-1)
    dec = tk.bpe_decode_ids(enc, vids, word_sep_id=-1)
    norm = docs.select(
        "doc_id",
        F.array_join(
            F.filter(tk.bpe_words(F.col("text")), lambda w: w != F.lit("")), " "
        ).alias("expected"),
    ).filter(F.col("expected") != "")
    bad = dec.join(norm, "doc_id").filter(F.col("text") != F.col("expected"))
    assert bad.count() == 0
    assert dec.count() == norm.count()


def test_bpe_decode_unknown_ids_render_unk(spark):
    """Ids outside the vocabulary (frozen-vocab OOV) decode to unk_token
    without dropping positions."""
    vids = spark.createDataFrame(
        [("hug", 1), ("p", 2)], "token string, token_id int"
    )
    enc = spark.createDataFrame(
        [(1, [1, -1, 99, 2])], "doc_id long, token_ids array<int>"
    )
    out = tk.bpe_decode_ids(enc, vids, word_sep_id=-1, unk_token="?").collect()
    assert out[0].text == "hug ?p"


def test_bpe_train_grouped_final_plan_no_corpus_rescan(spark, sf_dir):
    """Each round's winners are eagerly materialized, so consuming the
    merges table must NOT re-scan the corpus once per round (the executed
    plan previously re-read documents.parquet ~rounds times after the
    words-rotation evicted early winners' parents)."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = tk.bpe_train_grouped(docs, "lang", num_merges=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert out.count() == 15  # 5 langs x 3 rounds on the fixture


def test_bpe_single_corpus_collapse_pipeline(spark, sf_dir):
    """The one-collapse pipeline: word_counts once → train(vocab=) →
    bpe_vocab(vocab=) → encode_ids(vocab=) produce results identical to the
    self-contained paths, and neither vocab-derived frame re-scans the
    corpus."""
    from spark_ensemble_spark.sources.datasets import load_table

    docs = load_table(spark, sf_dir, "documents")
    wc = tk.word_counts(docs).persist()
    try:
        merges = [
            (r.lhs, r.rhs)
            for r in tk.bpe_train(None, vocab=wc, num_merges=4)
            .orderBy("merge_rank")
            .collect()
        ]
        v = tk.bpe_vocab(None, merges, vocab=wc)
        # served from the persisted collapse (the parquet scan only appears
        # as the cached relation's lineage description, not as executed work)
        assert "InMemoryTableScan" in v._jdf.queryExecution().executedPlan().toString()
        fresh = sorted(
            (r.token, r.freq, r.token_id)
            for r in tk.bpe_vocab(docs, merges).collect()
        )
        reused = sorted((r.token, r.freq, r.token_id) for r in v.collect())
        assert fresh == reused
    finally:
        wc.unpersist()


def test_bpe_encode_ids_bos_eos_wrap_and_roundtrip(spark):
    """Special tokens: bos/eos sentinel ids wrap every document's sequence
    (n_tokens counts them); decode renders the out-of-vocab sentinels as
    '' so the wrapped sequence still round-trips to normalized text."""
    docs = spark.createDataFrame(
        [(1, "hug hug pun"), (2, "pun")], "doc_id long, text string"
    )
    merges = [("u", "g"), ("h", "ug")]
    vids = tk.bpe_vocab(docs, merges).select("token", "token_id")
    enc = tk.bpe_encode_ids(
        docs, merges, vocab_ids=vids, word_sep_id=-1, bos_id=-2, eos_id=-3
    )
    rows = {r.doc_id: r for r in enc.collect()}
    for r in rows.values():
        assert r.token_ids[0] == -2 and r.token_ids[-1] == -3
        assert r.n_tokens == len(r.token_ids)
    dec = {
        r.doc_id: r.text
        for r in tk.bpe_decode_ids(enc, vids, word_sep_id=-1).collect()
    }
    assert dec == {1: "hug hug pun", 2: "pun"}
    # bos-only / eos-only variants compose too
    only_bos = tk.bpe_encode_ids(
        docs, merges, vocab_ids=vids, word_sep_id=-1, bos_id=-2
    ).collect()
    assert all(r.token_ids[0] == -2 and r.token_ids[-1] != -3 for r in only_bos)


def _prio_encode(word, merges):
    """Reference BPE encode with real-tokenizer semantics (GPT-2 / subword-nmt
    apply): repeatedly merge the present pair with the LOWEST trained rank,
    leftmost occurrence first, until no adjacent pair is in the table."""
    rank = {tuple(m): i for i, m in enumerate(merges)}
    syms = list(word)
    while len(syms) > 1:
        best = min(
            (rank.get((syms[i], syms[i + 1]), 1 << 30), i)
            for i in range(len(syms) - 1)
        )
        if best[0] == 1 << 30:
            break
        i = best[1]
        syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2 :]
    return syms


def test_segment_expr_matches_priority_encode_on_trained_merges(spark):
    """Merge-priority encoding parity (VERDICT r8 #7): the pure-Catalyst
    sequential fold (one full left-to-right pass per merge, in trained rank
    order) must segment every word exactly like a real tokenizer's
    priority-queue encode. For any VALID trained table the two are
    equivalent — a merge's operands only exist via earlier-ranked merges —
    and this pins it on the repo's own bpe_train output over adversarial
    words: unseen text, self-overlapping repeats, merged-symbol boundaries,
    and the empty segmentation edge."""
    import random

    from spark_ensemble_spark.operators import tokenizer as tk

    corpus_words = [
        "hug", "hugging", "huggable", "pun", "puns", "punning",
        "bun", "bunny", "gun", "aaaa", "aaab", "abab", "ababab",
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(random.Random(i).choices(corpus_words, k=8))) for i in range(40)],
        "doc_id long, text string",
    )
    merges = [
        (m.lhs, m.rhs)
        for m in tk.bpe_train(docs, num_merges=12).orderBy("merge_rank").collect()
    ]
    assert len(merges) == 12

    rng = random.Random(7)
    alphabet = sorted({c for w in corpus_words for c in w})
    adversarial = [
        "hug", "hugs", "unhug", "aaaaaaa", "abababa", "bbbb", "gggg",
        "punhug", "hugpun", "a", "nn", "ba",
    ] + ["".join(rng.choices(alphabet, k=rng.randint(1, 14))) for _ in range(60)]

    words_df = spark.createDataFrame([(w,) for w in adversarial], "w string")
    got = {
        r.w: r.seg.split(tk.SEP)
        for r in words_df.select(
            "w", tk.segment_expr(F.col("w"), merges).alias("seg")
        ).collect()
    }
    for w in adversarial:
        assert got[w] == _prio_encode(w, merges), (w, merges, got[w])


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (operators/unigram.py)
# ---------------------------------------------------------------------------


def _ref_viterbi(word, model, L, unk=-10000.0):
    """Brute-force reference: enumerate EVERY segmentation into pieces of
    length <= L (unknown single chars allowed at UNK_LOGP), return
    (best score, fewest pieces among score ties)."""
    from functools import lru_cache

    @lru_cache(maxsize=None)
    def go(i):
        if i == len(word):
            return [(0.0, 0, ())]
        outs = []
        for n in range(1, min(L, len(word) - i) + 1):
            piece = word[i : i + n]
            lp = model.get(piece, unk if n == 1 else None)
            if lp is None:
                continue
            for s, k, ps in go(i + n):
                outs.append((lp + s, k + 1, (piece,) + ps))
        return outs

    alls = go(0)
    assert alls, word
    best = max(alls, key=lambda t: (t[0], -t[1]))
    return best


def test_unigram_viterbi_matches_bruteforce(spark):
    """The Catalyst DP fold finds the max-log-prob segmentation (score AND
    the fewest-pieces tie rule) for every word — checked against an
    exhaustive enumeration of all segmentations."""
    import random

    from spark_ensemble_spark.operators import unigram as U

    model = U.unigram_fixed_model()
    rng = random.Random(11)
    words = [
        "the", "theater", "ingestion", "foring", "zzz", "a", "q",
        "international", "x9z", "0101",
    ] + ["".join(rng.choices("theinganorzq", k=rng.randint(1, 9))) for _ in range(40)]
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    seg = U.unigram_segment_pieces(wdf, model, max_piece_len=4)
    got = {r.w: r for r in seg.collect()}
    for w in words:
        score, k, pieces = _ref_viterbi(w, model, 4)
        r = got[w]
        assert abs(r.logp - score) < 1e-9, (w, r.logp, score)
        assert r.n_pieces == k, (w, r.n_pieces, k, pieces, r.pieces)
        # the reconstruction is consistent with its own stats and re-joins
        assert "".join(r.pieces) == w and len(r.pieces) == r.n_pieces


def test_unigram_train_improves_and_is_deterministic(spark):
    """Hard-EM training: corpus log-likelihood under the trained model is
    no worse than under the seed model, single characters always survive
    pruning (coverage), the vocab respects the size cap, and two identical
    runs export the identical model (gridded literals, tie-broken
    argmaxes)."""
    from spark_ensemble_spark.operators import tokenizer as tk
    from spark_ensemble_spark.operators import unigram as U

    docs = spark.createDataFrame(
        [
            (i, " ".join(["hugging", "puns", "bun", "hug", "gunner"][j % 5]
                         for j in range(i, i + 6)))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    vocab = tk.word_counts(docs)
    seed = dict(U.unigram_seed_counts(vocab, 3, 64))
    tot = float(sum(seed.values()))
    seed_model = {p: U._grid_logp(c / tot) for p, c in seed.items()}

    m1 = U.unigram_train(docs, vocab_size=24, max_piece_len=3, seed_size=64, num_iters=2)
    m2 = U.unigram_train(docs, vocab_size=24, max_piece_len=3, seed_size=64, num_iters=2)
    assert m1 == m2
    singles_in_corpus = {c for w in "hugging puns bun hug gunner".split() for c in w}
    assert singles_in_corpus <= set(m1)
    assert len([p for p in m1 if len(p) >= 2]) <= 24

    def total_lp(model):
        out = U.unigram_doc_stats(docs, model, max_piece_len=3)
        return float(
            out.agg(
                F.sum(F.col("total_logp_micro").cast("double") / 1e6)
            ).collect()[0][0]
        )

    assert total_lp(m1) >= total_lp(seed_model) - 1e-6


def test_unigram_unseen_chars_fall_back_to_unk(spark):
    """A word with characters outside the vocabulary still segments — every
    unknown char is one UNK piece — so encode never throws on dirty data."""
    from spark_ensemble_spark.operators import unigram as U

    model = U.unigram_fixed_model()
    wdf = spark.createDataFrame([("théâtre!",), ("~~",)], "w string")
    got = {r.w: r for r in U.unigram_segment_pieces(wdf, model, 4).collect()}
    assert got["~~"].n_pieces == 2 and got["~~"].logp == 2 * U.UNK_LOGP
    assert "".join(got["théâtre!"].pieces) == "théâtre!"


# ---------------------------------------------------------------------------
# WordPiece (likelihood-scored merges)
# ---------------------------------------------------------------------------


def test_wordpiece_prefers_cohesive_pair_over_frequent_pair(spark):
    """The defining WordPiece property: 'xy' appears only 3 times but x and
    y occur ONLY together (score 3/(3*3)); 'ab' appears 10 times but a and
    b are ubiquitous on their own (score 10/(100*100)). BPE's frequency
    argmax picks (a,b); WordPiece must pick (x,y) first."""
    rows = (
        [("ab",)] * 10 + [("a",)] * 90 + [("b",)] * 90 + [("xy",)] * 3
    )
    docs = spark.createDataFrame(rows, "text string")
    wp = tk.wordpiece_train(docs, num_merges=1).collect()
    assert (wp[0].lhs, wp[0].rhs) == ("x", "y")
    bpe = tk.bpe_train(docs, num_merges=1).collect()
    assert (bpe[0].lhs, bpe[0].rhs) == ("a", "b")


def test_wordpiece_score_grid_and_determinism(spark):
    """Scores sit on the 10^12 integer grid and the trajectory is identical
    under repartitioning (exact-integer contract)."""
    rows = [("hello world hello helper",)] * 3 + [("world wide help",)] * 2
    docs = spark.createDataFrame(rows, "text string")
    a = tk.wordpiece_train(docs.coalesce(1), num_merges=4).collect()
    b = tk.wordpiece_train(docs.repartition(5), num_merges=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    for r in a:
        assert 0 <= r.score_scaled <= tk.WP_SCORE_SCALE
        assert r.pair_count >= 1


def test_wordpiece_merge_fold_matches_bpe_fold(spark):
    """The merge APPLICATION is shared with BPE: training on a corpus where
    both rules pick the same pair yields the same post-merge vocab state."""
    rows = [("zz zz zz",)] * 4
    docs = spark.createDataFrame(rows, "text string")
    wp = tk.wordpiece_train(docs, num_merges=1).collect()
    bp = tk.bpe_train(docs, num_merges=1).collect()
    assert (wp[0].lhs, wp[0].rhs) == (bp[0].lhs, bp[0].rhs) == ("z", "z")
