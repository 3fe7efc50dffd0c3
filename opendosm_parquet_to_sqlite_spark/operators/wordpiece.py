"""Distributed WordPiece tokenizer training — the likelihood-gain rung
of the tokenizer family beside BPE (bpe.py) and the unigram LM
(unigram.py).

WordPiece (Schuster & Nakajima 2012; the public algorithm behind BERT's
tokenizer, as documented in the open-source BERT/HuggingFace-tokenizers
implementations) differs from BPE in exactly two places:

1. the merge SCORE is the likelihood gain
       score(a, b) = count(ab) / (count(a) * count(b))
   — the pair whose merge most improves a unigram LM over the symbol
   stream — instead of BPE's raw pair frequency; and
2. the continuation convention: a word's non-initial symbols carry a
   `##` prefix ("hello" seeds as [h, ##e, ##l, ##l, ##o]), merged
   symbols concatenate with the leading `##` of the right part stripped
   (h + ##e -> he; ##l + ##l -> ##ll), and inference is greedy
   LONGEST-MATCH-FIRST against the final vocabulary (not merge-rule
   replay), with an [UNK] fallback.

Spark shape — identical two-level factoring as bpe_train (the corpus is
scanned ONCE, ever):

- ONE corpus pass builds the Zipf-bounded (word, freq, syms) table,
  localCheckpoint'ed per round so round N's plan does not embed rounds
  1..N-1 (the iterative-algorithm discipline shared with bpe_train /
  connected_components).
- Per merge round, over the word table only:
  - symbol counts: explode(syms) -> (sym, sum freq) partial-combined;
  - pair counts: zip_with(syms, shifted) explode -> (l, r, sum freq);
  - score join: the symbol-count table is MODEL-sized by construction
    (alphabet + one new symbol per completed merge), so both lookups
    broadcast; score = n_pair / (n_l * n_r) computed from exact
    integer counts (same integers -> same IEEE double on every
    executor — deterministic);
  - winner: deterministic top-1 (score DESC, pair count DESC, then
    lexicographic (l, r)), a 1-row model-sized collect (the merge rule
    must become a literal in the next round's fold expression);
  - apply: the same higher-order `aggregate` fold as bpe._apply_merge,
    leftmost-first non-overlapping, zero Python, zero exchange.

Per-round cost: two model-sized partial-agg exchanges over the
distinct-word table + a narrow fold. At 100 TB the word table is
millions of rows (Zipf), the symbol table thousands — every broadcast
and collect here is model-sized by construction, never corpus-sized.

Inference (`wordpiece_segment`) is the greedy longest-match DP over
the FINAL vocabulary: per-word cost O(len^2) dict probes with a
per-batch word memo (Zipf: each distinct word costs one DP per Arrow
batch). Arrow-batched pandas_udf — the documented fallback tier (the
while-loop longest-match has no native-expression form); zero
row-at-a-time Python UDFs.

Determinism: all counts are exact integers; the score double is a pure
function of them; every ordering tie-breaks through to the symbol
strings. Pinned against a pure-Python reference of the identical
algorithm in tests/test_wordpiece.py.

Reference scope note: the OpenDOSM reference (src/main.rs) has no
tokenizer — this module is part of the LLM-training-data mission
(tokenizer trio: BPE / unigram-LM / WordPiece).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import _ckpt_ids, _unpersist_rdd_ids
from .text import tokens

CONT = "##"  # the continuation prefix (BERT convention)


def build_word_syms(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms) — the one corpus-scale pass. Symbols are the
    word's characters with `##` prefixed to every non-initial one (the
    WordPiece convention: word-internal units are distinct from
    word-initial ones, so merges cannot cross word boundaries)."""
    words = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.split(F.col("word"), "")
    n = F.size(chars)
    syms = F.concat(
        F.slice(chars, 1, 1),
        F.transform(
            F.slice(chars, 2, F.greatest(n - 1, F.lit(0))),
            lambda c: F.concat(F.lit(CONT), c),
        ),
    )
    return vocab.filter(F.length("word") > 0).select(
        "word", "freq", syms.alias("syms")
    )


def _merge_text(left: str, right: str) -> str:
    """h + ##e -> he; ##l + ##l -> ##ll (strip the right part's leading
    continuation marker; the left part keeps its own)."""
    return left + (
        right[len(CONT):] if right.startswith(CONT) else right
    )


def _scored_pairs(vocab: DataFrame) -> DataFrame:
    """(l, r, n_pair, score) with score = n_pair / (n_l * n_r) from the
    freq-weighted symbol counts of the CURRENT vocab state. The symbol
    table is model-sized (alphabet + completed merges) — broadcast."""
    s = F.col("syms")
    body = F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0)))
    shifted = F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0)))
    pairs = (
        vocab.select(
            "freq",
            F.explode(
                F.zip_with(
                    body,
                    shifted,
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n_pair"))
    )
    sym_counts = (
        vocab.select("freq", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("freq").alias("n_sym"))
    )
    left_n = F.broadcast(
        sym_counts.select(
            F.col("sym").alias("l"), F.col("n_sym").alias("n_l")
        )
    )
    right_n = F.broadcast(
        sym_counts.select(
            F.col("sym").alias("r"), F.col("n_sym").alias("n_r")
        )
    )
    return (
        pairs.join(left_n, "l")
        .join(right_n, "r")
        .select(
            "l",
            "r",
            "n_pair",
            (
                F.col("n_pair").cast("double")
                / (F.col("n_l").cast("double") * F.col("n_r").cast("double"))
            ).alias("score"),
        )
    )


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Rebuild every symbol array with (left, right) merged greedily
    leftmost-first, as ONE native fold — bpe._apply_merge with the
    WordPiece merged-text convention."""
    merged = _merge_text(left, right)
    folded = F.aggregate(
        F.col("syms"),
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return vocab.select("word", "freq", folded.alias("syms"))


def wordpiece_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_pair_freq: int = 2,
) -> DataFrame:
    """Learn `n_merges` WordPiece merges from the corpus. Returns the
    ordered rule table: rank (long, 1-based), left, right, merged,
    n_pair (long), score (double, rounded to 12 digits for display —
    the selection itself uses the unrounded value). Stops early when no
    remaining pair reaches `min_pair_freq` (table shorter than
    n_merges — never padded).

    Determinism: winner = max by (score, n_pair, then lexicographically
    smallest (l, r)); score is a pure function of exact integer counts.
    Pinned against a pure-Python reference in tests/test_wordpiece.py.
    """
    spark = df.sparkSession
    vocab = build_word_syms(df, text_col).localCheckpoint(eager=True)
    prev_ids = _ckpt_ids(vocab)
    # generation scheduled for release once the NEXT materialization
    # lands: with lazy per-round checkpoints (below), round r's blocks
    # must outlive round r+1's collect — releasing them eagerly hits
    # checkpointRDDBlockIdNotFound when the lazy table computes.
    release_after_next: set = set()
    rules: list[tuple] = []
    try:
        for rank in range(1, int(n_merges) + 1):
            top = (
                _scored_pairs(vocab)
                .filter(F.col("n_pair") >= int(min_pair_freq))
                .orderBy(
                    F.col("score").desc(),
                    F.col("n_pair").desc(),
                    F.col("l"),
                    F.col("r"),
                )
                .limit(1)
                .collect()
            )
            # the collect materialized `vocab` — the generation BEHIND
            # it is now safe to drop
            _unpersist_rdd_ids(spark, release_after_next)
            release_after_next = set()
            if not top:
                break
            l, r = top[0]["l"], top[0]["r"]
            rules.append(
                (
                    rank,
                    l,
                    r,
                    _merge_text(l, r),
                    int(top[0]["n_pair"]),
                    round(float(top[0]["score"]), 12),
                )
            )
            # LAZY checkpoint: the next round's top-pair collect is the
            # materializing action, so each merge round runs one driver
            # job fewer (round-13 opt; same fusion as the graph loops).
            # Concurrent stage jobs computing an unmaterialized cached
            # partition serialize on Spark's block locks, so the table
            # still computes once.
            vocab = _apply_merge(vocab, l, r).localCheckpoint(eager=False)
            new_ids = _ckpt_ids(vocab)
            release_after_next = prev_ids
            prev_ids = new_ids
    finally:
        _unpersist_rdd_ids(spark, prev_ids | release_after_next)
    return spark.createDataFrame(
        rules,
        "rank long, left string, right string, merged string,"
        " n_pair long, score double",
    )


def vocab_from_rules(
    chars: list[str], rules: list[tuple[str, str]]
) -> list[str]:
    """The final symbol inventory a trained ruleset induces: the seed
    alphabet (initial chars + ##-continuations) plus one merged symbol
    per rule — the vocabulary greedy inference matches against."""
    vocab = set(chars)
    for left, right in rules:
        vocab.add(_merge_text(left, right))
    return sorted(vocab)


def _greedy_word(
    word: str, vocab: set, max_word_len: int, unk: str
) -> list[str]:
    """BERT's WordPieceTokenizer inference: longest-match-first from
    the left; any unmatched position makes the whole word [UNK]."""
    if len(word) > max_word_len:
        return [unk]
    out: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        j = n
        piece = None
        while j > i:
            cand = word[i:j] if i == 0 else CONT + word[i:j]
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [unk]
        out.append(piece)
        i = j
    return out


def wordpiece_segment(
    df: DataFrame,
    text_col: str,
    vocab: list[str],
    out_col: str = "wordpiece_units",
    unk: str = "[UNK]",
    max_word_len: int = 100,
) -> DataFrame:
    """Greedy longest-match segmentation under a trained vocabulary —
    the WordPiece twin of unigram_segment. Adds `out_col`
    (array<string>): each token's pieces in token order; a word with an
    unmatchable position contributes a single [UNK] (the BERT
    convention), as does a word longer than `max_word_len`.

    Scale shape: tokenization stays native; the longest-match loop runs
    in an Arrow-batched pandas_udf over the token ARRAYS with a
    per-batch word memo (Zipf: repeated words cost one match each per
    batch). The vocabulary is model-sized by contract and rides the
    closure."""
    from pyspark.sql.functions import pandas_udf

    if not vocab:
        raise ValueError("vocab must be a non-empty trained vocabulary")
    vset = set(vocab)
    mwl = int(max_word_len)

    @pandas_udf("array<string>")
    def seg(tok_arrays):
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def one(word: str) -> list[str]:
            got = memo.get(word)
            if got is None:
                got = _greedy_word(word, vset, mwl, unk)
                memo[word] = got
            return got

        return pd.Series(
            [
                [u for w in (ws if ws is not None else []) for u in one(w)]
                for ws in tok_arrays
            ]
        )

    return df.withColumn(out_col, seg(tokens(F.lower(F.col(text_col)))))
