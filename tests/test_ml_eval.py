"""Round-7 wave 8: ML evaluation & feature-engineering operators.

Each operator's DuckDB hash parity runs in test_oracle_parity.py; these
pin the SEMANTIC contracts the hash can't see — leakage-freedom of the
out-of-fold encoding, the signed-hash invariants, the embargo-ordering
guarantee, hand-computed ranking metrics, and Welch parity against a
pure-Python reference.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators.features import (
    hash_features,
    target_encode,
)
from opendosm_parquet_to_sqlite_spark.operators.sampling import temporal_split
from opendosm_parquet_to_sqlite_spark.operators.search import ranking_metrics
from opendosm_parquet_to_sqlite_spark.operators.stats import welch_ttest


# --- target_encode -----------------------------------------------------------


def _te_rows(spark, rows):
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    out = target_encode(df, "cat", "y", "id", k=3, smoothing=2.0)
    return {r.id: (r.fold, r.y_te) for r in out.collect()}


def test_target_encode_leakage_free(spark):
    """Changing one row's target must NOT change that row's own encoding:
    the row's (cat, fold) cell is excluded from its out-of-fold sums, and
    the prior excludes its whole fold."""
    rows = [(i, "ab"[i % 2], float(i % 7)) for i in range(40)]
    base = _te_rows(spark, rows)
    bumped = [(i, c, y + (100.0 if i == 11 else 0.0)) for i, c, y in rows]
    out = _te_rows(spark, bumped)
    assert out[11] == base[11]
    # ...while SOME other row of the same category does move
    moved = [
        i for (i, c, _) in rows
        if c == "b" and i != 11 and out[i] != base[i]
    ]
    assert moved, "perturbed label never reached any other row's encoding"


def test_target_encode_smoothing_and_determinism(spark):
    rows = [(i, "common", 10.0) for i in range(30)] + [(100, "rare", 0.0)]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    out = {
        r.id: r.y_te
        for r in target_encode(df, "cat", "y", "id", k=3, smoothing=5.0)
        .collect()
    }
    # the rare category has no out-of-fold labels of its own -> its
    # encoding shrinks all the way to the (out-of-fold) prior, which is
    # built from the 'common' 10.0s
    assert out[100] == pytest.approx(10.0, abs=1e-6)
    # determinism under repartition
    out2 = {
        r.id: r.y_te
        for r in target_encode(
            df.repartition(7), "cat", "y", "id", k=3, smoothing=5.0
        ).collect()
    }
    assert out == out2


# --- hash_features -----------------------------------------------------------


def test_hash_features_invariants(spark):
    df = spark.createDataFrame(
        [(1, "en", "web"), (2, "en", None), (3, "ms", "web")],
        "id long, lang string, src string",
    )
    rows = hash_features(df, ["lang", "src"], "id", n_buckets=64).collect()
    # NULL src for id=2 emits no row
    assert len(rows) == 5
    assert all(0 <= r.bucket < 64 for r in rows)
    assert all(r.sign in (1, -1) for r in rows)
    # same (feature, value) -> same bucket/sign on every row
    en = {(r.bucket, r.sign) for r in rows if r.feature == "lang" and r.id in (1, 2)}
    assert len(en) == 1
    with pytest.raises(ValueError):
        hash_features(df, ["lang"], "id", n_buckets=1)


# --- temporal_split ----------------------------------------------------------


def test_temporal_split_ordering_and_embargo(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(hours=i)) for i in range(100)]
    rows.append((999, None))
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = temporal_split(df, "ts", train_frac=0.6, embargo_s=3 * 3600.0)
    got = {r.id: r.split for r in out.collect()}
    assert len(got) == 101 and got[999] == "test"
    train = [i for i in range(100) if got[i] == "train"]
    emb = [i for i in range(100) if got[i] == "embargo"]
    test = [i for i in range(100) if got[i] == "test"]
    assert train and emb and test
    # strict time ordering train < embargo < test, embargo spans 3 hours
    assert max(train) < min(emb) < max(emb) < min(test)
    assert len(emb) == 3
    # ~60% of datable rows train
    assert abs(len(train) - 60) <= 1
    with pytest.raises(ValueError):
        temporal_split(df, "ts", train_frac=1.5)


# --- ranking_metrics ---------------------------------------------------------


def test_ranking_metrics_hand_computed(spark):
    ranked = spark.createDataFrame(
        # q1: relevant doc first -> perfect; q2: relevant at rank 3;
        # q3: no relevant labels at all
        [("q1", "a", 1), ("q1", "b", 2),
         ("q2", "c", 1), ("q2", "d", 2), ("q2", "e", 3),
         ("q3", "f", 1)],
        "q string, d string, rk int",
    )
    labels = spark.createDataFrame(
        [("q1", "a", 1.0), ("q2", "e", 1.0), ("q2", "z", 1.0)],
        "q string, d string, rel double",
    )
    out = {
        r.q: r
        for r in ranking_metrics(
            ranked, labels, "q", "d", "rk", "rel", k=2
        ).collect()
    }
    assert out["q1"].precision_at_k == pytest.approx(0.5)  # 1 hit / k=2
    assert out["q1"].mrr == pytest.approx(1.0)
    assert out["q1"].ndcg == pytest.approx(1.0)  # ideal has 1 rel doc
    # q2's hit is at rank 3 > k -> filtered out entirely
    assert out["q2"].precision_at_k == pytest.approx(0.0)
    assert out["q2"].mrr == pytest.approx(0.0)
    assert out["q2"].ndcg == pytest.approx(0.0)
    # q3: no labels -> all-zero row, never NULL
    assert (out["q3"].precision_at_k, out["q3"].mrr, out["q3"].ndcg) == (
        0.0, 0.0, 0.0,
    )


def test_ranking_metrics_graded_ndcg(spark):
    # graded rel: ideal order is rel 3 then 1; ranking under test inverts
    ranked = spark.createDataFrame(
        [("q", "lo", 1), ("q", "hi", 2)], "q string, d string, rk int"
    )
    labels = spark.createDataFrame(
        [("q", "hi", 3.0), ("q", "lo", 1.0)], "q string, d string, rel double"
    )
    r = ranking_metrics(ranked, labels, "q", "d", "rk", "rel", k=2).collect()[0]
    dcg = (2.0 ** 1 - 1) / math.log2(2) + (2.0 ** 3 - 1) / math.log2(3)
    idcg = (2.0 ** 3 - 1) / math.log2(2) + (2.0 ** 1 - 1) / math.log2(3)
    assert r.ndcg == pytest.approx(round(dcg / idcg, 6), abs=1e-9)


# --- welch_ttest -------------------------------------------------------------


def _welch_py(a, b):
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = sum((x - ma) ** 2 for x in a) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    return t, dof


def test_welch_ttest_matches_python(spark):
    a = [1.0, 2.5, 3.0, 4.5, 2.0, 5.5, 3.5]
    b = [10.0, 8.0, 12.0, 9.0, 11.0]
    rows = [("g", True, x) for x in a] + [("g", False, x) for x in b]
    df = spark.createDataFrame(rows, "g string, coh boolean, v double")
    r = welch_ttest(df, "v", "coh", "g").collect()[0]
    t, dof = _welch_py(a, b)
    assert (r.n_a, r.n_b) == (7, 5)
    assert r.t_stat == pytest.approx(round(t, 6), abs=1e-9)
    assert r.t_df == pytest.approx(round(dof, 6), abs=1e-9)
    assert r.mean_a == pytest.approx(round(sum(a) / 7, 6))


def test_welch_ttest_degenerate_null_not_nan(spark):
    df = spark.createDataFrame(
        [("g", True, 1.0), ("g", False, 2.0), ("g", False, 3.0)],
        "g string, coh boolean, v double",
    )
    r = welch_ttest(df, "v", "coh", "g").collect()[0]
    assert r.n_a == 1 and r.t_stat is None and r.t_df is None
    # zero-variance both sides: se2 == 0 -> NULL, never Infinity
    df2 = spark.createDataFrame(
        [("g", True, 5.0)] * 3 + [("g", False, 5.0)] * 3,
        "g string, coh boolean, v double",
    )
    r2 = welch_ttest(df2, "v", "coh", "g").collect()[0]
    assert r2.t_stat is None
    # NULL cohort flag rows join neither side
    df3 = spark.createDataFrame(
        [("g", None, 100.0)]
        + [("g", True, float(x)) for x in (1, 2, 3)]
        + [("g", False, float(x)) for x in (4, 5, 6)],
        "g string, coh boolean, v double",
    )
    r3 = welch_ttest(df3, "v", "coh", "g").collect()[0]
    assert (r3.n_a, r3.n_b) == (3, 3)


# --- compression_ratio -------------------------------------------------------


def test_compression_ratio_ordering_and_nulls(spark):
    from opendosm_parquet_to_sqlite_spark.operators.text import (
        compression_ratio,
    )

    import random

    rng = random.Random(7)
    rand = "".join(chr(rng.randint(0x21, 0x7E)) for _ in range(2000))
    rep = "spam " * 400
    prose = (
        "the quick brown fox jumps over the lazy dog and then considers "
        "whether compression ratios separate prose from noise at all "
    ) * 16
    df = spark.createDataFrame(
        [(1, rand), (2, rep), (3, prose), (4, None), (5, "")],
        "id long, text string",
    )
    out = {r.id: r for r in compression_ratio(df, "text", "id").collect()}
    assert len(out) == 5  # NULL/empty rows are kept
    assert out[4].ratio is None and out[4].n_bytes is None
    assert out[5].ratio is None
    # repetitive << prose << random, and random is near-incompressible
    assert out[2].ratio < out[3].ratio < out[1].ratio
    assert out[1].ratio > 0.8 and out[2].ratio < 0.1
    # deterministic across repartition
    out2 = {
        r.id: r.ratio
        for r in compression_ratio(df.repartition(4), "text", "id").collect()
    }
    assert out2 == {i: out[i].ratio for i in out}
    with pytest.raises(ValueError):
        compression_ratio(df, "text", "id", level=0)


# --- vocab_coverage ----------------------------------------------------------


def test_vocab_coverage_hand_computed(spark):
    from opendosm_parquet_to_sqlite_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "aa zz"), (3, "zz qq"), (4, ""), (5, None)],
        "id long, text string",
    )
    # freqs: aa=3, bb=1, zz=2, qq=1 -> vocab(min_freq=2) = {aa, zz}
    out = {
        r.doc_id: (r.n_tokens, r.oov_rate)
        for r in vocab_coverage(df, "text", "id", min_freq=2).collect()
    }
    assert out == {
        1: (3, pytest.approx(1 / 3, abs=1e-6)),
        2: (2, 0.0),
        3: (2, 0.5),
    }  # empty/NULL docs emit no row


# --- bh_correction -----------------------------------------------------------


def test_bh_correction_hand_computed(spark):
    from opendosm_parquet_to_sqlite_spark.operators.stats import bh_correction

    # classic example: p = .01, .02, .04, .04, .6  (tie at ranks 3-4)
    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.04), ("d", 0.04),
         ("e", 0.60), ("f", None)],
        "test string, p double",
    )
    out = {r.test: r for r in bh_correction(df, "p", alpha=0.05).collect()}
    assert "f" not in out  # NULL p excluded from the family
    # adj: suffix-min of p*n/rank with n=5:
    # .05, .05, .05, .05, .6  (ties share the smaller candidate)
    assert out["a"].p_adj == pytest.approx(0.05)
    assert out["c"].p_adj == pytest.approx(0.05)
    assert out["d"].p_adj == out["c"].p_adj  # ties identical whatever order
    assert out["e"].p_adj == pytest.approx(0.6)
    assert out["a"].reject and out["d"].reject and not out["e"].reject
    # adj is monotone in rank and capped at 1
    ranks = sorted(out.values(), key=lambda r: r.p_rank)
    assert all(
        x.p_adj <= y.p_adj for x, y in zip(ranks, ranks[1:])
    )
    assert all(r.p_adj <= 1.0 for r in ranks)


# --- auc_roc -----------------------------------------------------------------


def test_auc_roc_hand_computed(spark):
    from opendosm_parquet_to_sqlite_spark.operators.stats import auc_roc

    # perfect separation -> 1.0; inverted -> 0.0; constant score -> 0.5
    rows = (
        [("sep", float(s), s >= 3) for s in range(6)]
        + [("inv", float(s), s < 3) for s in range(6)]
        + [("tie", 1.0, p) for p in (True, True, False, False)]
    )
    df = spark.createDataFrame(rows, "g string, s double, y boolean")
    out = {r.g: r for r in auc_roc(df, "s", "y", "g").collect()}
    assert out["sep"].auc == pytest.approx(1.0)
    assert out["inv"].auc == pytest.approx(0.0)
    assert out["tie"].auc == pytest.approx(0.5)
    assert (out["tie"].n_pos, out["tie"].n_neg) == (2, 2)
    # degenerate: single-class group -> NULL, not 0/1
    df2 = spark.createDataFrame(
        [("one", 1.0, True), ("one", 2.0, True)], "g string, s double, y boolean"
    )
    assert auc_roc(df2, "s", "y", "g").collect()[0].auc is None


def test_auc_roc_matches_sklearn_style_reference(spark):
    # midrank AUC == P(s+ > s-) + 0.5 P(s+ == s-) computed by brute force
    import itertools
    import random

    rng = random.Random(3)
    rows = [
        (round(rng.uniform(0, 5), 1), rng.random() < 0.4) for _ in range(60)
    ]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    brute = sum(
        1.0 if a > b else (0.5 if a == b else 0.0)
        for a, b in itertools.product(pos, neg)
    ) / (len(pos) * len(neg))
    from opendosm_parquet_to_sqlite_spark.operators.stats import auc_roc

    df = spark.createDataFrame(rows, "s double, y boolean")
    got = auc_roc(df, "s", "y").collect()[0].auc
    assert got == pytest.approx(round(brute, 6), abs=1e-9)


# --- classification_report ---------------------------------------------------


def test_classification_report_hand_computed(spark):
    from opendosm_parquet_to_sqlite_spark.operators.stats import (
        classification_report,
    )

    df = spark.createDataFrame(
        [(0.9, True), (0.8, False), (0.4, True), (0.1, False), (None, True)],
        "s double, y boolean",
    )
    out = {
        r.threshold: r
        for r in classification_report(df, "s", "y", [0.5, 0.95]).collect()
    }
    r5 = out[0.5]
    assert (r5.tp, r5.fp, r5.fn, r5.tn) == (1, 1, 1, 1)
    assert r5.precision == pytest.approx(0.5)
    assert r5.recall == pytest.approx(0.5)
    assert r5.f1 == pytest.approx(0.5)
    # at 0.95 nothing is predicted positive: precision NULL (0/0), f1 NULL
    r95 = out[0.95]
    assert (r95.tp, r95.fp) == (0, 0)
    assert r95.precision is None and r95.f1 is None
    assert r95.recall == pytest.approx(0.0)
    with pytest.raises(ValueError):
        classification_report(df, "s", "y", [])


# --- lift_table --------------------------------------------------------------


def test_lift_table_invariants(spark):
    from opendosm_parquet_to_sqlite_spark.operators.stats import lift_table

    # top decile holds all the positives -> lift = n_bins, gains saturate
    rows = [(i, float(i), i >= 90) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s double, y boolean")
    out = sorted(
        lift_table(df, "s", "y", n_bins=10, tiebreak_cols="id").collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in out] == list(range(1, 11))
    assert all(r.n == 10 for r in out)
    top = out[0]
    assert top.n_pos == 10 and top.response_rate == pytest.approx(1.0)
    assert top.lift == pytest.approx(10.0)
    assert top.cum_gain == pytest.approx(1.0)  # decile 1 captures 100%
    assert out[-1].cum_gain == pytest.approx(1.0)
    assert out[-1].cum_lift == pytest.approx(1.0)  # whole population
    # mass conservation
    assert sum(r.n_pos for r in out) == 10
    with pytest.raises(ValueError):
        lift_table(df, "s", "y", n_bins=1)


# --- survival_curve ----------------------------------------------------------


def test_survival_curve_textbook_example(spark):
    from opendosm_parquet_to_sqlite_spark.operators.stats import survival_curve

    # classic KM: durations (6,6,6,7,10) events + (6,9,10,11,13) censored
    rows = (
        [(6, True)] * 3 + [(7, True), (10, True)]
        + [(6, False), (9, False), (10, False), (11, False), (13, False)]
    )
    df = spark.createDataFrame(rows, "t int, e boolean")
    out = {r.duration: r for r in survival_curve(df, "t", "e").collect()}
    # event times only
    assert sorted(out) == [6, 7, 10]
    assert (out[6].n_at_risk, out[6].n_events) == (10, 3)
    s6 = 1 - 3 / 10
    assert out[6].survival == pytest.approx(round(s6, 6))
    s7 = s6 * (1 - 1 / 6)  # at t=7: risk set = 10 - 3 - 1 censored = 6
    assert (out[7].n_at_risk, out[7].n_events) == (6, 1)
    assert out[7].survival == pytest.approx(round(s7, 6), abs=1e-6)
    s10 = s7 * (1 - 1 / 4)  # at t=10: risk = {10e,10c,11c,13c} = 4
    assert out[10].survival == pytest.approx(round(s10, 6), abs=1e-6)
    # curve is non-increasing
    vals = [out[t].survival for t in sorted(out)]
    assert vals == sorted(vals, reverse=True)


def test_survival_curve_absorbing_zero_and_groups(spark):
    from opendosm_parquet_to_sqlite_spark.operators.stats import survival_curve

    # group g1: everyone dies at t=2 -> S hits exactly 0 (no NaN/NULL)
    rows = [("g1", 1, True), ("g1", 2, True), ("g1", 2, True),
            ("g2", 5, False)]
    df = spark.createDataFrame(rows, "g string, t int, e boolean")
    out = {
        (r.g, r.duration): r
        for r in survival_curve(df, "t", "e", "g").collect()
    }
    assert out[("g1", 2)].survival == pytest.approx(0.0)
    assert out[("g1", 1)].survival == pytest.approx(round(1 - 1 / 3, 6))
    # all-censored group contributes no event rows but errors nothing
    assert not [k for k in out if k[0] == "g2"]


# --- silhouette_score --------------------------------------------------------


def test_silhouette_separated_vs_mixed(spark):
    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        silhouette_score,
    )

    # two tight, well-separated blobs -> mean silhouette near 1
    far = [("a", [0.0, 0.0]), ("a", [0.1, 0.0]), ("a", [0.0, 0.1]),
           ("b", [10.0, 10.0]), ("b", [10.1, 10.0]), ("b", [10.0, 10.1])]
    df = spark.createDataFrame(far, "c string, v array<double>")
    out = {r.c: r for r in silhouette_score(df, "v", "c").collect()}
    assert out["a"].n == 3
    assert out["a"].mean_silhouette > 0.95
    assert out["b"].mean_silhouette > 0.95
    # the same points arbitrarily relabeled -> overlapping "clusters",
    # silhouette collapses
    mixed = [(("a", "b")[i % 2], v) for i, (_, v) in enumerate(far)]
    df2 = spark.createDataFrame(mixed, "c string, v array<double>")
    out2 = silhouette_score(df2, "v", "c").collect()
    assert all(r.mean_silhouette < 0.3 for r in out2)


def test_silhouette_conventions(spark):
    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        silhouette_score,
    )

    # singleton cluster scores 0 by convention, not 1
    df = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("a", [1.0, 0.0]), ("solo", [5.0, 5.0])],
        "c string, v array<double>",
    )
    out = {r.c: r for r in silhouette_score(df, "v", "c").collect()}
    assert out["solo"].mean_silhouette == pytest.approx(0.0)
    # single-cluster input: no "other" centroid -> NULL, never 0
    df2 = spark.createDataFrame(
        [("only", [0.0]), ("only", [1.0])], "c string, v array<double>"
    )
    r = silhouette_score(df2, "v", "c").collect()[0]
    assert r.mean_silhouette is None and r.n == 2


# --- centroid_classify -------------------------------------------------------


def test_centroid_classify_separable_and_ties(spark):
    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        centroid_classify,
    )

    train = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("a", [0.2, 0.0]),
         ("b", [10.0, 0.0]), ("b", [10.2, 0.0])],
        "label string, v array<double>",
    )
    test = spark.createDataFrame(
        [("a", [0.1, 0.1]),    # clearly a
         ("b", [10.1, -0.1]),  # clearly b
         ("b", [0.3, 0.0]),    # actually near a -> misclassified cell
         ("a", [5.1, 0.0])],   # exact midpoint -> tie -> smaller label 'a'
        "label string, v array<double>",
    )
    out = {
        (r.label, r.predicted): r.n
        for r in centroid_classify(train, test, "v", "label").collect()
    }
    assert out == {("a", "a"): 2, ("b", "b"): 1, ("b", "a"): 1}


def test_centroid_classify_accuracy_on_separated_blobs(spark):
    import numpy as np
    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        centroid_classify,
    )

    rng = np.random.RandomState(11)
    rows = []
    for c, center in ((0, (0.0, 0.0)), (1, (8.0, 8.0)), (2, (-8.0, 8.0))):
        for _ in range(40):
            x = rng.randn(2) * 0.5 + np.array(center)
            rows.append((c, [float(x[0]), float(x[1])]))
    df = spark.createDataFrame(rows, "label int, v array<double>")
    out = centroid_classify(df, df, "v", "label").collect()
    correct = sum(r.n for r in out if r.label == r.predicted)
    total = sum(r.n for r in out)
    assert total == 120 and correct / total > 0.99


# --- l_diversity_report ------------------------------------------------------


def test_l_diversity_catches_dominated_class(spark):
    import math
    from opendosm_parquet_to_sqlite_spark.operators.privacy import (
        l_diversity_report,
    )

    rows = (
        # class A: 49 flu + 1 cancer -> passes distinct-2<l=2? it has 2
        # distinct; entropy = -(0.98 ln .98 + .02 ln .02) ~ 0.098 < ln 3
        [("A", "flu")] * 49 + [("A", "cancer")]
        # class B: 3-way even split -> entropy = ln 3 exactly -> passes
        + [("B", "flu"), ("B", "cancer"), ("B", "cold")]
        # class C: one value only -> fails both bars
        + [("C", "flu")] * 5
        # class D: only NULL sensitive values -> zero diversity, fails
        + [("D", None)] * 4
    )
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r.q: r for r in l_diversity_report(df, ["q"], "s", l=3).collect()}
    assert set(out) == {"A", "C", "D"}
    p = 49 / 50
    want = round(-(p * math.log(p) + (1 - p) * math.log(1 - p)), 6)
    assert out["A"].entropy == pytest.approx(want, abs=1e-6)
    assert out["A"].n_sensitive == 2
    assert out["C"].entropy == 0.0 and out["C"].n_sensitive == 1
    assert out["D"].class_size == 4 and out["D"].n_sensitive == 0
    assert out["D"].n_sensitive_rows == 0
    # class_size is the TRUE class row count (k_anonymity semantics);
    # the non-NULL-sensitive total lives in n_sensitive_rows
    assert out["A"].class_size == 50 and out["A"].n_sensitive_rows == 50
    assert all(r.min_entropy == pytest.approx(round(math.log(3), 6))
               for r in out.values())
    with pytest.raises(ValueError):
        l_diversity_report(df, ["q"], "s", l=1)


# --- dp_noisy_counts ---------------------------------------------------------


def test_dp_noisy_counts_determinism_and_scale(spark):
    from opendosm_parquet_to_sqlite_spark.operators.privacy import (
        dp_noisy_counts,
    )

    rows = [(f"g{i % 20}",) for i in range(400)]
    df = spark.createDataFrame(rows, "g string")
    a = {r.g: r for r in dp_noisy_counts(df, ["g"], epsilon=1.0).collect()}
    b = {
        r.g: r
        for r in dp_noisy_counts(
            df.repartition(7), ["g"], epsilon=1.0
        ).collect()
    }
    # deterministic across partitionings
    assert {g: r.noisy_n for g, r in a.items()} == {
        g: r.noisy_n for g, r in b.items()
    }
    # a different namespace re-seeds the PRF
    c = {
        r.g: r.noisy_n
        for r in dp_noisy_counts(
            df, ["g"], epsilon=1.0, namespace="release2"
        ).collect()
    }
    assert c != {g: r.noisy_n for g, r in a.items()}
    # clamped output is nonnegative integer post-processing
    assert all(r.noisy_n_clamped >= 0 for r in a.values())
    # noise scale shrinks with epsilon: eps=100 keeps counts within ~0.1
    tight = dp_noisy_counts(df, ["g"], epsilon=100.0).collect()
    assert all(abs(r.noisy_n - r.n) < 0.25 for r in tight)
    # and mean |noise| at eps=1 is near b=1 (Laplace mean abs = b)
    import statistics

    mean_abs = statistics.mean(abs(r.noisy_n - r.n) for r in a.values())
    assert 0.2 < mean_abs < 3.0
    with pytest.raises(ValueError):
        dp_noisy_counts(df, ["g"], epsilon=0.0)


# --- calibrate_isotonic -------------------------------------------------------


def _pure_pav(rates, weights):
    """Reference PAV, written independently of the operator's stack form:
    repeatedly scan for the first violating adjacent pair and merge, until
    monotone — O(n^2) but obviously correct."""
    blocks = [[r, w, 1] for r, w in zip(rates, weights)]
    changed = True
    while changed:
        changed = False
        for i in range(len(blocks) - 1):
            if blocks[i][0] > blocks[i + 1][0] + 1e-15:
                m1, w1, c1 = blocks[i]
                m2, w2, c2 = blocks[i + 1]
                wt = w1 + w2
                blocks[i : i + 2] = [[(m1 * w1 + m2 * w2) / wt, wt, c1 + c2]]
                changed = True
                break
    out = []
    for m, _, c in blocks:
        out.extend([m] * c)
    return out


def _iso_table(spark, pairs, n_bins=10):
    from opendosm_parquet_to_sqlite_spark.operators.classifier import (
        calibrate_isotonic,
    )

    df = spark.createDataFrame(pairs, "score double, label int")
    return calibrate_isotonic(df, "score", "label", n_bins=n_bins).collect()


def test_isotonic_matches_pure_pav(spark):
    """The distributed fit equals the scan-and-merge reference on the
    same bin table, bin by bin (exact up to the output rounding)."""
    # deterministic miscalibrated scorer: rate DROPS in the middle bins
    pairs = []
    for i in range(400):
        s = (i % 100) / 100.0 + 0.005
        rate = [0.1, 0.6, 0.3, 0.8][int(s * 4) if s < 1 else 3]
        pairs.append((s, 1 if (i * 7919) % 100 < rate * 100 else 0))
    rows = _iso_table(spark, pairs, n_bins=8)
    rates = [r.rate for r in rows]
    weights = [float(r.n) for r in rows]
    expect = _pure_pav(rates, weights)
    got = [r.calibrated for r in rows]
    assert got == pytest.approx(expect, abs=1e-6)


def test_isotonic_monotone_and_mass_preserving(spark):
    pairs = [
        ((i % 50) / 50.0 + 0.001, (i * 31) % 3 == 0) for i in range(300)
    ]
    pairs = [(s, int(b)) for s, b in pairs]
    rows = _iso_table(spark, pairs, n_bins=10)
    cal = [r.calibrated for r in rows]
    assert cal == sorted(cal), "calibrated rates must be non-decreasing"
    raw_mass = sum(r.n * r.rate for r in rows)
    cal_mass = sum(r.n * r.calibrated for r in rows)
    assert cal_mass == pytest.approx(raw_mass, rel=1e-4)


def test_isotonic_already_monotone_is_identity(spark):
    """A perfectly calibrated (monotone) scorer passes through: PAV only
    pools violators."""
    pairs = []
    for b in range(5):
        for i in range(40):
            s = b / 5.0 + 0.05
            pairs.append((s, 1 if i < b * 10 else 0))  # rate = b/4 rising
    rows = _iso_table(spark, pairs, n_bins=5)
    for r in rows:
        assert r.calibrated == pytest.approx(r.rate, abs=1e-6)


def test_isotonic_score_out_of_range_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([(1.5, 1)], "score double, label int")
    from opendosm_parquet_to_sqlite_spark.operators.classifier import (
        calibrate_isotonic,
    )

    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        calibrate_isotonic(df, "score", "label", n_bins=4).collect()
