"""Distributed unigram-LM (SentencePiece-style) tokenizer training.

The second rung of the tokenizer family beside BPE (bpe.py): instead of
greedy pair merging, fit a UNIGRAM language model over candidate
subword pieces [Kudo 2018, "Subword Regularization: Improving Neural
Network Translation Models with Multiple Subword Candidates" — the
public algorithm behind SentencePiece's default trainer]:

1. seed a large candidate vocabulary from frequent substrings,
2. fit piece probabilities by EM over each word's segmentation lattice
   (forward-backward expected counts),
3. iteratively prune the pieces whose removal costs the corpus Viterbi
   likelihood least, re-running EM between prunes, until `vocab_size`
   pieces remain,
4. segment with Viterbi under the final piece log-probabilities.

Spark shape — the bpe_train / doremi_weights / quality_classifier
discipline (driver holds the model, corpus scanned once):

- ONE corpus pass builds the distinct-word frequency table (Zipf-
  bounded: millions of rows at 100 TB, not trillions), checkpointed
  once; every later job runs over it, never over raw text.
- The SEED is built natively: substrings up to `max_piece_len` exploded
  from the word table (sequence x transform x explode), one
  partial-combined (piece, sum freq) agg, and a driver top-k bounded by
  `seed_size` via limit — a model-sized collect by construction (the
  doremi max_domains idiom: the collect is capped BEFORE it runs).
- Each EM iteration is ONE Spark job: the K-piece log-prob dict rides a
  mapInPandas closure over the persisted word table; each Arrow batch
  runs the lattice forward-backward in-process and emits its LOCAL
  (piece, expected_count) partials — pre-combined per batch, so the
  following model-sized groupBy(piece) agg shuffles at most
  (K x n_partitions) rows, never one row per word occurrence.
- Each prune round is the same shape, emitting per-piece Viterbi loss
  deltas (freq x (best_without_piece - best_with)); the driver drops
  the cheapest (1 - shrink_factor) of the multi-char pieces — never
  single characters, which guarantee every word stays segmentable —
  and re-runs EM.

mapInPandas (Arrow-batched) is the documented fallback tier here: the
per-word lattice DP has no native-expression form, and the batch-level
combine keeps all exchanged volume model-sized. Zero row-at-a-time
Python UDFs (the registry-wide plan sweep enforces this for the
registered queries).

Determinism: float-sum dust from partition-order reduction is absorbed
by rounding log-probs (`ndigits`) each M-step and prune scores before
each cut; all top-k / prune orderings tie-break on the piece string.
Pinned against a pure-Python reference of the identical algorithm in
tests/test_unigram.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

_NEG = float("-inf")
# loglik rides the same (piece, count) channel as a reserved key; real
# pieces are substrings of tokenized words and can never contain \x00
_LL_KEY = "\x00loglik"


def _word_freqs(df: DataFrame, text_col: str, max_word_len: int) -> DataFrame:
    """(word, freq) — the one corpus-scale pass (bpe.build_word_vocab's
    sibling, without the end sentinel: the unigram lattice works on the
    raw word; word boundaries are enforced by segmenting per word).
    Words longer than `max_word_len` are dropped from TRAINING (the
    SentencePiece convention — pathological unbroken strings would
    otherwise own the lattice cost; the segmenter still handles them)."""
    words = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    ).filter(
        (F.length("word") > 0) & (F.length("word") <= int(max_word_len))
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def seed_pieces(
    words: DataFrame,
    max_piece_len: int,
    seed_size: int,
    min_freq: int = 2,
) -> tuple[list[tuple[str, int]], list[tuple[str, int]]]:
    """Candidate seed: (single_chars, multi_pieces) as (piece, freq)
    lists. Single characters are ALL characters seen in any word (the
    coverage set — never pruned); multi-char pieces are the top
    `seed_size` substrings of length 2..max_piece_len by summed word
    frequency (ties broken lexicographically, so the seed is a pure
    function of the corpus).

    Shape: substrings explode from the Zipf-bounded WORD table, not the
    corpus; one partial-combined agg; the driver collect is capped at
    seed_size rows by limit (and the char set is alphabet-sized)."""
    subs = words.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    # start positions 1..n
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        # lengths 1..min(max_piece_len, n-i+1)
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(int(max_piece_len)),
                                F.length("word") - i + 1,
                            ),
                        ),
                        lambda ln: F.substring(F.col("word"), i, ln),
                    ),
                )
            )
        ).alias("piece"),
    )
    counted = subs.groupBy("piece").agg(F.sum("freq").alias("n"))
    chars = [
        (r["piece"], int(r["n"]))
        for r in counted.filter(F.length("piece") == 1).collect()
    ]
    multi = [
        (r["piece"], int(r["n"]))
        for r in counted.filter(
            (F.length("piece") >= 2) & (F.col("n") >= int(min_freq))
        )
        .orderBy(F.col("n").desc(), F.col("piece"))
        .limit(int(seed_size))
        .collect()
    ]
    return sorted(chars), multi


def _lattice_matches(word: str, logp: dict[str, float], max_len: int):
    """All (i, j, piece, lp) with word[i:j] in the vocabulary."""
    n = len(word)
    for i in range(n):
        for j in range(i + 1, min(i + max_len, n) + 1):
            p = word[i:j]
            lp = logp.get(p)
            if lp is not None:
                yield i, j, p, lp


def _ladd(a: float, b: float) -> float:
    if a == _NEG:
        return b
    if b == _NEG:
        return a
    m = a if a > b else b
    return m + math.log(math.exp(a - m) + math.exp(b - m))


def _forward_backward(
    word: str, freq: int, logp: dict[str, float], max_len: int, acc
) -> float:
    """Accumulate freq-weighted expected piece counts for one word into
    `acc`; returns the word's log-likelihood contribution (freq * log Z).
    A word with an uncovered character contributes nothing (cannot occur
    during training: the char seed covers the corpus alphabet)."""
    n = len(word)
    matches = list(_lattice_matches(word, logp, max_len))
    alpha = [_NEG] * (n + 1)
    alpha[0] = 0.0
    beta = [_NEG] * (n + 1)
    beta[n] = 0.0
    for i, j, _, lp in matches:  # matches are i-ascending
        alpha[j] = _ladd(alpha[j], alpha[i] + lp)
    for i, j, _, lp in reversed(matches):
        beta[i] = _ladd(beta[i], lp + beta[j])
    z = alpha[n]
    if z == _NEG:
        return 0.0
    for i, j, p, lp in matches:
        post = alpha[i] + lp + beta[j] - z
        if post > -700.0:  # exp underflow guard
            acc[p] += freq * math.exp(post)
    return freq * z


def _viterbi(
    word: str,
    logp: dict[str, float],
    max_len: int,
    banned: str | None = None,
    unk_lp: float | None = None,
) -> tuple[float, list[str]]:
    """Best segmentation score + pieces. Ties prefer the LONGER piece
    ending at each position (the earliest split point wins only on a
    strictly better score — deterministic under any dict order).
    With `unk_lp` set, characters absent from the vocabulary are scored
    as single-char units at that log-prob (byte-fallback analog) so
    every word segments; without it, uncovered words return -inf."""
    n = len(word)
    best = [_NEG] * (n + 1)
    best[0] = 0.0
    back: list[tuple[int, str] | None] = [None] * (n + 1)
    for i in range(n):
        if best[i] == _NEG:
            continue
        hi = min(i + max_len, n)
        for j in range(i + 1, hi + 1):
            p = word[i:j]
            if p == banned:
                continue
            lp = logp.get(p)
            if lp is None:
                if unk_lp is None or j != i + 1:
                    continue
                lp = unk_lp
            s = best[i] + lp
            if s > best[j]:
                best[j] = s
                back[j] = (i, p)
    if best[n] == _NEG:
        return _NEG, []
    out: list[str] = []
    j = n
    while j > 0:
        i, p = back[j]  # type: ignore[misc]
        out.append(p)
        j = i
    out.reverse()
    return best[n], out


def _partials_fn(logp: dict[str, float], max_len: int, mode: str):
    """mapInPandas worker: per Arrow batch, run the lattice DP for every
    word and emit the batch's LOCAL (piece, c) partial sums — `mode`
    'em' emits expected counts (+ the loglik under the reserved key),
    'prune' emits Viterbi loss deltas for pieces on each word's best
    path. Partial-combining per batch bounds the shuffle at
    (K x n_partitions) rows."""

    def fn(batches):
        from collections import defaultdict

        import pandas as pd

        for pdf in batches:
            acc: dict[str, float] = defaultdict(float)
            ll = 0.0
            for word, freq in zip(pdf["word"], pdf["freq"]):
                f = int(freq)
                if mode == "em":
                    ll += _forward_backward(word, f, logp, max_len, acc)
                else:
                    base, path = _viterbi(word, logp, max_len)
                    if base == _NEG:
                        continue
                    for p in set(path):
                        if len(p) == 1:
                            continue  # single chars are never pruned
                        alt, _ = _viterbi(word, logp, max_len, banned=p)
                        if alt == _NEG:
                            acc[p] = math.inf  # essential piece
                        elif acc[p] != math.inf:
                            acc[p] += f * (base - alt)
            if mode == "em":
                acc[_LL_KEY] += ll
            if acc:
                yield pd.DataFrame(
                    {"piece": list(acc), "c": [acc[k] for k in acc]}
                )

    return fn


def _model_agg(words: DataFrame, logp: dict[str, float], max_len: int,
               mode: str) -> dict[str, float]:
    """One Spark job over the word table -> K-row dict on the driver."""
    rows = (
        words.mapInPandas(
            _partials_fn(logp, max_len, mode), "piece string, c double"
        )
        .groupBy("piece")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    return {r["piece"]: float(r["c"]) for r in rows}


def _m_step(counts: dict[str, float], pieces: list[str],
            ndigits: int) -> dict[str, float]:
    """Maximum-likelihood unigram probabilities from expected counts,
    rounded to `ndigits` so partition-order float dust cannot feed back
    through the iteration (the doremi discipline)."""
    total = sum(counts.get(p, 0.0) for p in pieces)
    floor = math.log(1e-12)
    out = {}
    for p in pieces:
        c = counts.get(p, 0.0)
        out[p] = round(
            math.log(c) - math.log(total), ndigits
        ) if c > 0 else floor
    return out


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    seed_size: int = 2000,
    max_piece_len: int = 8,
    n_em_iters: int = 2,
    shrink_factor: float = 0.75,
    min_freq: int = 2,
    max_word_len: int = 64,
    ndigits: int = 10,
) -> DataFrame:
    """Train a unigram-LM tokenizer; returns the final piece table
    (piece string, logprob double) with exactly the single-char coverage
    set plus the surviving multi-char pieces (<= vocab_size total when
    vocab_size exceeds the alphabet; never fewer than the alphabet).

    Driver state: the K-piece dict. Per EM iteration / prune round: ONE
    job over the checkpointed word table with model-sized exchange and a
    K-row collect. See module docstring for the full scale shape."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if not 0.0 < shrink_factor < 1.0:
        raise ValueError(
            f"shrink_factor must be in (0, 1), got {shrink_factor}"
        )
    if max_piece_len < 2:
        raise ValueError(
            f"max_piece_len must be >= 2, got {max_piece_len}"
        )
    from .graph import _ckpt_ids, _unpersist_rdd_ids

    spark = df.sparkSession
    words = _word_freqs(df, text_col, max_word_len).localCheckpoint(
        eager=True
    )
    ckpt_ids = _ckpt_ids(words)
    try:
        chars, multi = seed_pieces(
            words, max_piece_len, seed_size, min_freq=min_freq
        )
        if not chars:
            return spark.createDataFrame(
                [], "piece string, logprob double"
            )
        n_multi_target = max(int(vocab_size) - len(chars), 0)
        # init: probabilities proportional to seed substring frequency
        pieces = [p for p, _ in chars] + [p for p, _ in multi]
        freqs = {p: n for p, n in chars + multi}
        total0 = sum(freqs.values())
        logp = {
            p: round(math.log(freqs[p]) - math.log(total0), ndigits)
            for p in pieces
        }

        def run_em() -> None:
            nonlocal logp
            for _ in range(int(n_em_iters)):
                counts = _model_agg(words, logp, max_piece_len, "em")
                counts.pop(_LL_KEY, None)
                logp = _m_step(counts, list(logp), ndigits)

        run_em()
        while True:
            n_multi = sum(1 for p in logp if len(p) > 1)
            if n_multi <= n_multi_target:
                break
            scores = _model_agg(words, logp, max_piece_len, "prune")
            multi_pieces = [p for p in logp if len(p) > 1]
            # a multi piece never used on any Viterbi path scores 0
            ranked = sorted(
                multi_pieces,
                key=lambda p: (round(scores.get(p, 0.0), 6), p),
            )
            n_drop = max(1, int(n_multi * (1.0 - shrink_factor)))
            n_drop = min(n_drop, n_multi - n_multi_target)
            dropped = set(ranked[:n_drop])
            logp = {p: lp for p, lp in logp.items() if p not in dropped}
            run_em()
    finally:
        # release the checkpointed word-table blocks (bpe_train idiom)
        _unpersist_rdd_ids(spark, ckpt_ids)
    out = sorted(logp.items())
    return spark.createDataFrame(out, "piece string, logprob double")


def unigram_segment(
    df: DataFrame,
    text_col: str,
    pieces: list[tuple[str, float]],
    out_col: str = "unigram_units",
) -> DataFrame:
    """Viterbi-segment `text_col` under a trained piece table. Adds
    `out_col` (array<string>): the concatenation of each token's best
    segmentation, in token order.
    Characters absent from the vocabulary segment as single-char units
    at (min piece logprob - 10) — the byte-fallback analog, so every
    word segments and the op is total.

    Scale shape: tokenization stays native; the Viterbi DP runs in an
    Arrow-batched pandas_udf over the token ARRAYS with a per-batch
    word memo (Zipf: repeated words cost one DP each per batch). The
    piece table is model-sized by contract and rides the closure."""
    from pyspark.sql.functions import pandas_udf

    if not pieces:
        raise ValueError("pieces must be a non-empty trained piece table")
    logp = dict(pieces)
    max_len = max(len(p) for p in logp)
    unk_lp = min(logp.values()) - 10.0

    @pandas_udf("array<string>")
    def seg(tok_arrays):
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def one(word: str) -> list[str]:
            got = memo.get(word)
            if got is None:
                _, got = _viterbi(word, logp, max_len, unk_lp=unk_lp)
                memo[word] = got
            return got

        return pd.Series(
            [
                [u for w in (ws if ws is not None else []) for u in one(w)]
                for ws in tok_arrays
            ]
        )

    return df.withColumn(out_col, seg(tokens(F.lower(F.col(text_col)))))
