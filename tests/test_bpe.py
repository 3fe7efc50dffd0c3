"""Distributed BPE trainer vs a pure-Python reference implementation of
the same (public, Sennrich-style) algorithm — identical merge sequence
under the identical tie-break, plus the leftmost-greedy merge fold."""

from __future__ import annotations

import re
from collections import Counter

from opendosm_parquet_to_sqlite_spark.operators.bpe import (
    END_MARK,
    _apply_merge,
    bpe_train,
    build_word_vocab,
)

TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a hat and a bat and a rat sat flat",
    "that cat and that hat matter",
    "matting and batting and hatting",
    "the the the cat cat mat",
]


def _ref_bpe(texts: list[str], n_merges: int, min_freq: int = 2):
    """Reference trainer: word-freq vocab, repeated best-pair merge,
    tie-break (count DESC, then lexicographically smallest (l, r))."""
    words = Counter()
    for t in texts:
        for w in re.findall(r"\S+", t.lower()):
            words[w] += 1
    vocab = {
        w: tuple(list(w[:-1]) + [w[-1] + END_MARK]) for w in words
    }
    rules = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += words[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), n = best
        if n < min_freq:
            break
        rules.append((rank, l, r, l + r, n))
        new_vocab = {}
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return rules, vocab


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = [
        (r.rank, r.left, r.right, r.merged, r.n)
        for r in bpe_train(df, "text", n_merges=12).orderBy("rank").collect()
    ]
    ref, _ = _ref_bpe(TEXTS, 12)
    assert got == ref


def test_bpe_train_early_stop(spark):
    df = spark.createDataFrame([("ab cd ef gh",)], "text string")
    out = bpe_train(df, "text", n_merges=10, min_freq=2).collect()
    # every pair occurs once -> below min_freq -> zero rules, never padded
    assert out == []


def test_bpe_overlapping_pair_is_leftmost_greedy(spark):
    # 'aaaa' under merge (a,a): leftmost-first gives [aa, aa] after rule 1
    df = spark.createDataFrame([("aaaa aaaa",)], "text string")
    rules = bpe_train(df, "text", n_merges=1, min_freq=1).collect()
    assert (rules[0].left, rules[0].right) == ("a", "a")
    seg = _apply_merge(build_word_vocab(df, "text"), "a", "a").first().syms
    # per word [a,a,a,a▁]: leftmost pair merges, the next 'a' cannot chain
    # onto the merged token, and the sentinel keeps the final symbol
    # distinct -> [aa, a, a▁] (identical to the reference greedy scan)
    assert seg == ["aa", "a", "a" + END_MARK]


def test_bpe_vocab_sentinel(spark):
    df = spark.createDataFrame([("ab a",)], "text string")
    v = {
        r.word: r.syms for r in build_word_vocab(df, "text").collect()
    }
    assert v == {"ab": ["a", "b" + END_MARK], "a": ["a" + END_MARK]}


def test_bpe_leaves_no_resident_blocks(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    before = spark.sparkContext._jsc.getPersistentRDDs().keySet().size()
    bpe_train(df, "text", n_merges=3)
    after = spark.sparkContext._jsc.getPersistentRDDs().keySet().size()
    assert after == before  # rule table is driver-side; all rounds released
