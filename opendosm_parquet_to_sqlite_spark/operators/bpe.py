"""Distributed BPE tokenizer training — merge-rule learning at corpus scale.

The canonical subword-tokenizer trainer (Sennrich et al. 2016, public
algorithm): start from characters, repeatedly merge the most frequent
adjacent symbol pair.  Every LLM data pipeline runs this once per corpus
snapshot; at 100 TB the naive formulation (rescan the corpus per merge) is
unrunnable, so the Spark shape here is the standard two-level factoring:

1. ONE corpus pass builds the word-frequency vocabulary — (word, freq)
   with the word exploded to its symbol array.  This is the only
   data-scale job; everything after runs over the DISTINCT-WORD table,
   which is Zipf-bounded (millions of rows, not trillions) and carries
   frequencies, so no information is lost vs. scanning raw text.
2. Each merge round over the vocab table:
   - pair counts: zip_with(syms, shifted) explode → (pair, Σ freq)
     partial-combined aggregate;
   - winner: deterministic top-1 (count DESC, then lexicographic pair —
     the tie-break is part of the algorithm's reproducibility contract),
     a 1-row driver collect (the merge RULE must become a literal in the
     next round's expression — this collect is model-sized by nature);
   - apply: a higher-order `aggregate` fold rebuilds each word's symbol
     array, merging LEFTMOST-FIRST non-overlapping occurrences — the
     same greedy semantics as the reference algorithm (after a merge the
     scan continues past the merged token, so 'aaa' under (a,a) yields
     ['aa','a']);
   - lineage truncation (localCheckpoint) so round N's plan does not
     embed rounds 1..N-1 — the iterative-algorithm discipline shared
     with connected_components/pagerank.

Per-round cost: one exchange of (pair, partial-freq) rows over the vocab
table + a narrow fold.  The corpus is touched exactly once, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import _ckpt_ids, _unpersist_rdd_ids
from .text import tokens

END_MARK = "▁"  # U+2581 LOWER HALF BLOCK — the word-end sentinel


def build_word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, syms) — the one corpus-scale pass. Symbols are the
    word's characters with a sentinel appended to the final character so
    merges cannot cross word boundaries and word-final units stay
    distinct (the reference algorithm's '</w>' convention)."""
    words = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.split(F.col("word"), "")
    n = F.size(chars)
    syms = F.concat(
        F.slice(chars, 1, F.greatest(n - 1, F.lit(0))),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END_MARK))),
    )
    return vocab.filter(F.length("word") > 0).select(
        "word", "freq", syms.alias("syms")
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    s = F.col("syms")
    shifted = F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0)))
    pairs = F.zip_with(
        F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0))),
        shifted,
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n"))
    )


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Rebuild every symbol array with (left, right) merged greedily
    leftmost-first, as ONE native fold — no Python, no shuffle."""
    merged = left + right
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


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_freq: int = 2,
) -> DataFrame:
    """Learn `n_merges` BPE merge rules from the corpus.  Returns the
    ordered rule table: rank (long, 1-based), left, right, merged, n
    (the pair's weighted frequency when chosen).  Stops early when no
    remaining pair reaches `min_freq` (rule table is shorter than
    n_merges — never padded).

    Determinism: winner = max by (n, then lexicographically smallest
    (l, r)) — reproducible under any partitioning; pinned against a
    pure-Python reference implementation in tests/test_bpe.py.
    """
    spark = df.sparkSession
    vocab = build_word_vocab(df, text_col).localCheckpoint(eager=True)
    prev_ids = _ckpt_ids(vocab)
    rules: list[tuple] = []
    try:
        for rank in range(1, int(n_merges) + 1):
            top = (
                _pair_counts(vocab)
                .orderBy(F.col("n").desc(), F.col("l"), F.col("r"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] < int(min_freq):
                break
            l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
            rules.append((rank, l, r, l + r, n))
            vocab = _apply_merge(vocab, l, r).localCheckpoint(eager=True)
            new_ids = _ckpt_ids(vocab)
            _unpersist_rdd_ids(spark, prev_ids)
            prev_ids = new_ids
    finally:
        _unpersist_rdd_ids(spark, prev_ids)
    return spark.createDataFrame(
        rules, "rank long, left string, right string, merged string, n long"
    )
