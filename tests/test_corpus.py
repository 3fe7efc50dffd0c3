"""Corpus-cleaning composition properties (the oracle hash check runs in
the driver gate; these pin the invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import corpus, neardup, text
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import SF0001


def test_clean_corpus_invariants(spark):
    docs = load_table(spark, SF0001, "documents")
    out = corpus.clean_corpus(docs, "text", "doc_id", min_quality=0.5)
    out.cache()
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out <= n_in
    # survivors are a subset of the input, payload intact
    assert out.join(docs, on=list(docs.columns), how="left_anti").count() == 0
    # every survivor clears the quality gate
    assert out.filter(text.quality_score(F.col("text")) < 0.5).count() == 0
    # no exact duplicates remain
    assert out.select(F.md5("text")).distinct().count() == n_out
    # no near-dup pair above threshold remains among survivors
    remaining_pairs = neardup.ngram_jaccard_pairs(
        out, "text", "doc_id", n=3, threshold=0.3, max_doc_freq=50
    )
    assert remaining_pairs.count() == 0
    out.unpersist()


def test_clean_corpus_keeps_min_id_of_dup_group(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    df = spark.createDataFrame(
        [(5, base), (2, base), (9, base + " extra"), (1, "a completely different "
          "document about the weather and the sea and the sky today")],
        ["doc_id", "text"],
    )
    out = sorted(r["doc_id"] for r in
                 corpus.clean_corpus(df, "text", "doc_id",
                                     min_quality=0.0).collect())
    # 2 survives its exact-dup group {2,5}; 9 (near-dup of 2) removed; 1 kept
    assert out == [1, 2]


# --- release_gate ------------------------------------------------------------


def test_release_gate_verdicts(spark):
    from opendosm_parquet_to_sqlite_spark.operators import corpus as _c

    good = "the quick brown fox jumps over the lazy dog and runs to the river"
    rows = (
        [(i, f"{good} v{i}") for i in range(50)]      # unique, decent quality
        + [(100 + i, "dup dup dup") for i in range(10)]   # 10 copies
        + [(200, None), (201, "  ")]                      # null/blank
        + [(300, f"contact me me@x.com or 1.2.3.4 {good}")]  # PII
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.check: r
        for r in _c.release_gate(
            df, "text", "doc_id",
            min_docs=100, max_null_rate=0.01, max_dup_rate=0.05,
            max_pii_rate=0.01,
        ).collect()
    }
    assert len(out) == 5
    assert out["volume"].value == 63.0 and not out["volume"]["pass"]
    # 2 of 63 null/blank
    assert abs(out["null_text_rate"].value - 2 / 63) < 1e-6
    assert not out["null_text_rate"]["pass"]
    # 62 non-null texts (blank counts), 53 distinct digests -> 9/62
    assert abs(out["dup_rate"].value - 9 / 62) < 1e-6
    assert not out["dup_rate"]["pass"]
    # exactly one PII doc of 63
    assert abs(out["pii_rate"].value - 1 / 63) < 1e-6
    assert not out["pii_rate"]["pass"]


def test_release_gate_passes_clean_corpus(spark):
    from opendosm_parquet_to_sqlite_spark.operators import corpus as _c

    good = "the quick brown fox jumps over the lazy dog and runs to the river"
    df = spark.createDataFrame(
        [(i, f"{good} variant {i}") for i in range(200)],
        "doc_id long, text string",
    )
    out = _c.release_gate(df, "text", "doc_id", min_docs=100)
    assert all(r["pass"] for r in out.collect())


# --- quality_percentile_gate ---------------------------------------------------


def _gate(spark, rows, frac):
    from opendosm_parquet_to_sqlite_spark.operators.corpus import (
        quality_percentile_gate,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return quality_percentile_gate(
        df, "text", "doc_id", "source", keep_frac=frac
    ).collect()


def _graded_texts(n):
    """n texts with strictly increasing quality: longer, cleaner docs
    score higher under the composite heuristic."""
    base = "the quick brown fox jumps over a lazy dog and runs to the river"
    return [" ".join([base] * (i + 1))[: 40 + 12 * i] for i in range(n)]


def test_percentile_gate_keeps_per_group_share(spark):
    """Each group keeps ~keep_frac of ITS OWN docs by its own threshold —
    a uniformly weaker group is not starved (the absolute-threshold
    failure mode this operator exists to avoid)."""
    strong = _graded_texts(10)
    weak = ["!!! ??? %%%" + t[: 20 + 3 * i] for i, t in enumerate(_graded_texts(10))]
    rows = [(i, t, "strong") for i, t in enumerate(strong)]
    rows += [(100 + i, t, "weak") for i, t in enumerate(weak)]
    out = _gate(spark, rows, 0.5)
    per = {}
    for r in out:
        per[r.grp] = per.get(r.grp, 0) + 1
    assert per.get("strong", 0) >= 5
    assert per.get("weak", 0) >= 5, "weak group must keep its own top half"
    # and the gate actually dropped the weak tails
    assert len(out) < 20


def test_percentile_gate_ties_survive(spark):
    """Every doc tied at the threshold score is kept (order-statistic
    semantics) — the kept share may exceed keep_frac by the tie mass."""
    rows = [(i, "identical text content here", "g") for i in range(10)]
    out = _gate(spark, rows, 0.3)
    assert len(out) == 10  # all tied at one score → all survive


def test_percentile_gate_frac_one_keeps_all_nonnull(spark):
    rows = [(i, t, "g") for i, t in enumerate(_graded_texts(6))]
    rows.append((99, None, "g"))
    out = _gate(spark, rows, 1.0)
    assert {r.doc_id for r in out} == set(range(6))  # NULL text dropped


def test_percentile_gate_null_group_is_its_own_group(spark):
    rows = [(i, t, None) for i, t in enumerate(_graded_texts(8))]
    rows += [(100 + i, t, "g") for i, t in enumerate(_graded_texts(4))]
    out = _gate(spark, rows, 0.5)
    null_kept = [r for r in out if r.grp is None]
    g_kept = [r for r in out if r.grp == "g"]
    assert len(null_kept) >= 4 and len(g_kept) >= 2
    # thresholds computed independently per group
    assert {r.threshold for r in null_kept} != set() and (
        {r.threshold for r in g_kept} != set()
    )


def test_percentile_gate_validates_frac(spark):
    import pytest as _pytest

    rows = [(1, "some text", "g")]
    for bad in (0.0, -0.1, 1.5):
        with _pytest.raises(ValueError, match="keep_frac"):
            _gate(spark, rows, bad)


# --- CCNet-style commonness buckets ------------------------------------------


def _buckets(spark, rows, k=3):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return corpus.commonness_buckets(df, "text", "doc_id", n_buckets=k)


def test_commonness_buckets_head_is_common_tail_is_rare(spark):
    """Docs made of corpus-common words land in bucket 1 (head); docs
    of hapax junk land in the last bucket (tail) — the CCNet keep-side
    is the low-bucket side."""
    common = [(i, "the cat sat on the mat") for i in range(6)]
    rare = [(100 + i, f"zxq{i} wvut{i} qqj{i}") for i in range(3)]
    out = {
        r["bucket"]: r for r in _buckets(spark, common + rare).collect()
    }
    assert min(out) == 1 and max(out) == 3
    # head bucket holds the common docs (highest mean tf)
    assert out[1]["min_mean_tf"] > out[3]["max_mean_tf"]
    assert out[3]["n_docs"] == 3  # the three junk docs are the tail
    assert sum(r["n_docs"] for r in out.values()) == 9


def test_commonness_buckets_ties_share_a_bucket(spark):
    """Identical docs share a quantized score, hence a cum, hence a
    bucket — no doc-id tiebreak splits a tie across a boundary."""
    rows = [(i, "same words here") for i in range(7)]
    out = _buckets(spark, rows).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 7


def test_commonness_buckets_excludes_empty_docs(spark):
    rows = [(0, "a a a"), (1, ""), (2, None), (3, "b b b")]
    out = _buckets(spark, rows, k=1).collect()
    assert len(out) == 1 and out[0]["n_docs"] == 2


def test_commonness_buckets_avg_tokens_exact(spark):
    rows = [(0, "x x x x"), (1, "x x")]  # 4 and 2 tokens, same term
    out = _buckets(spark, rows, k=1).collect()[0]
    assert out["n_docs"] == 2
    assert out["avg_tokens"] == 3.0
    # mean tf: doc0 = 6 (every x occurs 6x), doc1 = 6
    assert out["min_mean_tf"] == out["max_mean_tf"] == 6.0


def test_commonness_buckets_validates_k(spark):
    with pytest.raises(ValueError, match="n_buckets"):
        _buckets(spark, [(0, "a")], k=0)
