"""Unigram-LM (SentencePiece-style) tokenizer trainer: exact parity of
the distributed EM + prune loop against a pure-Python reference of the
identical algorithm, plus Viterbi segmenter determinism pins."""

from __future__ import annotations

import math

import pytest

from opendosm_parquet_to_sqlite_spark.operators import unigram as U

NEG = float("-inf")


# --- pure-Python reference of the identical algorithm ------------------------


def _ref_word_freqs(texts, max_word_len=64):
    freqs = {}
    for t in texts:
        for w in t.lower().split():
            if 0 < len(w) <= max_word_len:
                freqs[w] = freqs.get(w, 0) + 1
    return freqs


def _ref_seed(freqs, max_piece_len, seed_size, min_freq=2):
    counts = {}
    for w, f in freqs.items():
        n = len(w)
        for i in range(n):
            for ln in range(1, min(max_piece_len, n - i) + 1):
                p = w[i:i + ln]
                counts[p] = counts.get(p, 0) + f
    chars = sorted((p, c) for p, c in counts.items() if len(p) == 1)
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2 and c >= min_freq),
        key=lambda pc: (-pc[1], pc[0]),
    )[:seed_size]
    return chars, multi


def _ref_train(texts, vocab_size, seed_size, max_piece_len, n_em_iters=2,
               shrink_factor=0.75, min_freq=2, ndigits=10):
    """Collected-data restatement of unigram_train's loop: same seed,
    same EM (forward-backward expected counts -> rounded ML M-step),
    same prune scores and tie-breaks."""
    freqs = _ref_word_freqs(texts)
    chars, multi = _ref_seed(freqs, max_piece_len, seed_size, min_freq)
    if not chars:
        return {}
    n_multi_target = max(vocab_size - len(chars), 0)
    seed_f = dict(chars + multi)
    total0 = sum(seed_f.values())
    logp = {
        p: round(math.log(f) - math.log(total0), ndigits)
        for p, f in seed_f.items()
    }

    def em():
        nonlocal logp
        for _ in range(n_em_iters):
            acc = {}

            class _Acc(dict):
                def __missing__(self, k):
                    return 0.0

            acc = _Acc()
            for w, f in freqs.items():
                U._forward_backward(w, f, logp, max_piece_len, acc)
            total = sum(acc.get(p, 0.0) for p in logp)
            floor = math.log(1e-12)
            logp = {
                p: (
                    round(math.log(acc[p]) - math.log(total), ndigits)
                    if acc.get(p, 0.0) > 0 else floor
                )
                for p in logp
            }

    em()
    while True:
        n_multi = sum(1 for p in logp if len(p) > 1)
        if n_multi <= n_multi_target:
            break
        scores = {}
        for w, f in freqs.items():
            base, path = U._viterbi(w, logp, max_piece_len)
            if base == NEG:
                continue
            for p in set(path):
                if len(p) == 1:
                    continue
                alt, _ = U._viterbi(w, logp, max_piece_len, banned=p)
                if alt == NEG:
                    scores[p] = math.inf
                elif scores.get(p) != math.inf:
                    scores[p] = scores.get(p, 0.0) + f * (base - alt)
        ranked = sorted(
            (p for p in logp if len(p) > 1),
            key=lambda p: (round(scores.get(p, 0.0), 6), p),
        )
        n_drop = max(1, int(n_multi * (1.0 - shrink_factor)))
        n_drop = min(n_drop, n_multi - n_multi_target)
        dropped = set(ranked[:n_drop])
        logp = {p: lp for p, lp in logp.items() if p not in dropped}
        em()
    return logp


CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps while the quick fox runs",
    "quick quick brown foxes and lazy lazy dogs",
    "a fox and a dog walk over the brown field",
    "dogs and foxes are quick but the field is lazy",
] * 3


@pytest.mark.slow
def test_unigram_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = {
        r["piece"]: r["logprob"]
        for r in U.unigram_train(
            df, "text", vocab_size=40, seed_size=60, max_piece_len=4,
            n_em_iters=2,
        ).collect()
    }
    ref = _ref_train(CORPUS, vocab_size=40, seed_size=60, max_piece_len=4)
    assert set(got) == set(ref)
    for p in ref:
        assert got[p] == pytest.approx(ref[p], abs=1e-8), p


@pytest.mark.slow
def test_unigram_train_keeps_all_single_chars(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    out = U.unigram_train(
        df, "text", vocab_size=1, seed_size=30, max_piece_len=3
    ).collect()
    pieces = {r["piece"] for r in out}
    alphabet = {c for t in CORPUS for w in t.split() for c in w}
    # vocab_size below the alphabet still yields full char coverage and
    # zero multi-char pieces
    assert pieces == alphabet
    # probabilities normalize over the final vocab
    assert sum(math.exp(r["logprob"]) for r in out) == pytest.approx(
        1.0, abs=1e-6
    )


def test_unigram_train_validations(spark):
    df = spark.createDataFrame([("abc",)], "text string")
    with pytest.raises(ValueError, match="vocab_size"):
        U.unigram_train(df, "text", vocab_size=0)
    with pytest.raises(ValueError, match="shrink_factor"):
        U.unigram_train(df, "text", vocab_size=5, shrink_factor=1.5)
    with pytest.raises(ValueError, match="max_piece_len"):
        U.unigram_train(df, "text", vocab_size=5, max_piece_len=1)
    empty = U.unigram_train(
        df.filter("text = 'nope'"), "text", vocab_size=5
    )
    assert empty.collect() == []


def test_viterbi_prefers_longer_piece_on_tie():
    # "ab" as one piece vs "a"+"b": equal total score -> the longer
    # piece (earlier split start) must win deterministically
    logp = {"a": -1.0, "b": -1.0, "ab": -2.0}
    score, path = U._viterbi("ab", logp, 2)
    assert score == pytest.approx(-2.0)
    assert path == ["ab"]


def test_viterbi_banned_and_uncovered():
    logp = {"a": -1.0, "ab": -1.5}
    score, path = U._viterbi("ab", logp, 2, banned="ab")
    assert score == NEG and path == []  # 'b' not in vocab
    score, path = U._viterbi("ab", logp, 2, banned="ab", unk_lp=-20.0)
    assert path == ["a", "b"] and score == pytest.approx(-21.0)


def test_unigram_segment_deterministic_and_total(spark):
    pieces = [("he", -1.0), ("llo", -1.2), ("h", -3.0), ("e", -3.0),
              ("l", -3.0), ("o", -3.0), ("hello", -2.0)]
    df = spark.createDataFrame(
        [(1, "hello hello"), (2, "HELLO"), (3, "hexllo"), (4, ""),
         (5, None)],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["unigram_units"]
        for r in U.unigram_segment(df, "text", pieces).collect()
    }
    # 'hello' one piece at -2.0 beats he+llo at -2.2; case-folded
    assert rows[1] == ["hello", "hello"]
    assert rows[2] == ["hello"]
    # 'x' is uncovered -> single-char fallback unit
    assert rows[3] == ["he", "x", "llo"]
    assert rows[4] == []
    assert rows[5] == []
    # rebuild property: concatenating units reproduces the folded words
    for did, text in ((1, "hello hello"), (3, "hexllo")):
        assert "".join(rows[did]) == text.lower().replace(" ", "")


def test_unigram_segment_requires_pieces(spark):
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="pieces"):
        U.unigram_segment(df, "text", [])


@pytest.mark.slow
def test_unigram_train_releases_checkpoint_blocks(spark):
    def persistent_rdd_ids() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    df = spark.createDataFrame([(t,) for t in CORPUS[:5]], "text string")
    before = persistent_rdd_ids()
    U.unigram_train(
        df, "text", vocab_size=20, seed_size=30, max_piece_len=3,
        n_em_iters=1,
    ).collect()
    assert persistent_rdd_ids() == before
