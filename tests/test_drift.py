"""psi_drift + k_anonymity_report semantics. Oracle parity of both
composed queries runs in tests/test_oracle_parity.py; this module pins
sensitivity, invariances, and edge cases on synthetic data."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import features, privacy


def _mk(spark, values, group="g"):
    return spark.createDataFrame(
        [(group, float(v)) for v in values], "g string, v double"
    )


def test_identical_distributions_score_zero(spark):
    rng = np.random.RandomState(3)
    vals = rng.randn(2000)
    a = _mk(spark, vals)
    [r] = features.psi_drift(a, _mk(spark, vals), "v", "g").collect()
    assert r.psi == 0.0
    assert r.n_a == r.n_b == 2000
    assert r.mean_a == r.mean_b


def test_shifted_distribution_scores_high(spark):
    rng = np.random.RandomState(4)
    base = rng.randn(2000)
    a = _mk(spark, base)
    b = _mk(spark, base + 2.0)  # 2-sigma mean shift
    [r] = features.psi_drift(a, b, "v", "g").collect()
    assert r.psi > 0.25  # "shifted" per the standard reading
    small = _mk(spark, base + 0.05)  # negligible shift
    [r2] = features.psi_drift(a, small, "v", "g").collect()
    assert r2.psi < 0.1  # "stable"
    assert r.psi > r2.psi


def test_psi_symmetry_and_nonnegativity(spark):
    rng = np.random.RandomState(5)
    a = _mk(spark, rng.randn(1000))
    b = _mk(spark, rng.randn(1000) * 1.5)
    [ab] = features.psi_drift(a, b, "v", "g").collect()
    [ba] = features.psi_drift(b, a, "v", "g").collect()
    # each term (pa-pb)ln(pa/pb) >= 0, and the sum is symmetric in sides
    assert ab.psi >= 0
    assert abs(ab.psi - ba.psi) < 1e-9


def test_constant_feature_and_nulls(spark):
    a = spark.createDataFrame(
        [("g", 5.0), ("g", 5.0), ("g", None)], "g string, v double"
    )
    b = spark.createDataFrame(
        [("g", 5.0), ("g", 5.0)], "g string, v double"
    )
    [r] = features.psi_drift(a, b, "v", "g").collect()
    assert r.psi == 0.0      # degenerate range -> single bin both sides
    assert r.n_a == 2        # NULL excluded from the distribution


def test_k_anonymity_flags_small_classes_only(spark):
    rows = [("kl", "m", i) for i in range(10)] + [("sg", "f", 99)]
    df = spark.createDataFrame(rows, "city string, sex string, pid long")
    out = privacy.k_anonymity_report(df, ["city", "sex"], k=5).collect()
    assert len(out) == 1
    assert (out[0].city, out[0].sex, out[0].class_size) == ("sg", "f", 1)


def test_k_anonymity_l_diversity_signal(spark):
    rows = [("a", "flu"), ("a", "flu"), ("b", "flu"), ("b", "cold")]
    df = spark.createDataFrame(rows, "zip string, dx string")
    out = {
        r.zip: r
        for r in privacy.k_anonymity_report(
            df, ["zip"], k=5, sensitive_col="dx"
        ).collect()
    }
    # class 'a': 2 members, ONE sensitive value -> full disclosure
    assert out["a"].n_sensitive_values == 1
    assert out["b"].n_sensitive_values == 2


def test_k_anonymity_validates_k(spark):
    df = spark.createDataFrame([("x", 1)], "a string, b long")
    with pytest.raises(ValueError, match="k must be"):
        privacy.k_anonymity_report(df, ["a"], k=1)


from hypothesis import given, settings, strategies as st


@settings(max_examples=10, deadline=None)
@given(
    a=st.lists(st.floats(-50, 50, allow_nan=False).map(lambda x: round(x, 2)),
               min_size=2, max_size=60),
    b=st.lists(st.floats(-50, 50, allow_nan=False).map(lambda x: round(x, 2)),
               min_size=2, max_size=60),
)
@pytest.mark.slow
def test_psi_fuzz_vs_numpy_reference(spark, a, b):
    """Random slices vs a NumPy restatement of the same binning/floor
    math — catches drift between the distributed expression DAG and the
    definition."""
    import numpy as np

    da, db = _mk(spark, a), _mk(spark, b)
    [r] = features.psi_drift(da, db, "v", "g", n_bins=10).collect()

    va, vb = np.array(a), np.array(b)
    lo = min(va.min(), vb.min())
    hi = max(va.max(), vb.max())
    if hi > lo:
        w = (hi - lo) / 10.0
        bins_a = np.minimum(np.floor((va - lo) / w), 9).astype(int)
        bins_b = np.minimum(np.floor((vb - lo) / w), 9).astype(int)
    else:
        bins_a = np.zeros(len(va), dtype=int)
        bins_b = np.zeros(len(vb), dtype=int)
    psi = 0.0
    for bin_ in set(bins_a) | set(bins_b):
        pa = max((bins_a == bin_).sum() / len(va), 1e-4)
        pb = max((bins_b == bin_).sum() / len(vb), 1e-4)
        psi += (pa - pb) * np.log(pa / pb)
    assert abs(r.psi - round(psi, 6)) < 2e-6
    assert r.n_a == len(a) and r.n_b == len(b)


def test_embedding_drift_same_vs_shifted(spark):
    """Same-distribution halves score cos_means ~1; an injected
    direction shift drops it sharply; norms and counts report."""
    import numpy as np
    from opendosm_parquet_to_sqlite_spark.operators import projection

    rng = np.random.RandomState(21)
    base_dir = rng.randn(16)
    mk = lambda n, shift: [
        ("g", [float(x) for x in (base_dir + shift + 0.1 * rng.randn(16))])
        for _ in range(n)
    ]
    schema = "g string, embedding array<float>"
    a = spark.createDataFrame(mk(200, 0.0), schema)
    b_same = spark.createDataFrame(mk(200, 0.0), schema)
    b_shift = spark.createDataFrame(
        mk(200, 3.0 * rng.randn(16)), schema
    )
    [same] = projection.embedding_drift(a, b_same, "embedding", "g").collect()
    [shift] = projection.embedding_drift(a, b_shift, "embedding", "g").collect()
    assert same.cos_means > 0.99
    assert shift.cos_means < 0.9
    assert same.n_a == same.n_b == 200


def test_embedding_drift_zero_mean_is_null(spark):
    from opendosm_parquet_to_sqlite_spark.operators import projection

    schema = "g string, embedding array<float>"
    a = spark.createDataFrame(
        [("g", [1.0, -1.0]), ("g", [-1.0, 1.0])], schema
    )  # mean = zero vector
    b = spark.createDataFrame([("g", [1.0, 1.0])], schema)
    [r] = projection.embedding_drift(a, b, "embedding", "g").collect()
    assert r.cos_means is None
    assert r.norm_a == 0.0


def test_vocab_drift_detects_new_vocabulary(spark):
    from opendosm_parquet_to_sqlite_spark.operators import text as _t

    base = [(i, "alpha beta gamma delta epsilon") for i in range(20)]
    a = spark.createDataFrame(base, "doc_id long, text string")
    same = spark.createDataFrame(base, "doc_id long, text string")
    [r0] = _t.vocab_drift(a, same, "text", min_freq=2).collect()
    assert r0.oov_token_share == 0.0 and r0.n_new_types == 0
    assert r0.vocab_size_a == 5 and r0.n_tokens_a == 100

    # half of B's mass is brand-new vocabulary
    b = spark.createDataFrame(
        [(i, "alpha beta zork quux") for i in range(20)],
        "doc_id long, text string",
    )
    [r1] = _t.vocab_drift(a, b, "text", min_freq=2).collect()
    assert abs(r1.oov_token_share - 0.5) < 1e-6
    assert r1.n_new_types == 2

    # min_freq prunes hapaxes from A's vocab: a word seen once in A
    # still counts as OOV in B
    a2 = spark.createDataFrame(
        [(0, "alpha rareword"), (1, "alpha alpha")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(0, "rareword rareword")], "doc_id long, text string"
    )
    [r2] = _t.vocab_drift(a2, b2, "text", min_freq=2).collect()
    assert r2.oov_token_share == 1.0


# --- exact two-sample KS (round 7) --------------------------------------------


def test_ks_identical_zero_and_disjoint_one(spark):
    rng = np.random.RandomState(9)
    vals = rng.randn(500)
    [r] = features.ks_drift(_mk(spark, vals), _mk(spark, vals), "v", "g").collect()
    assert r.ks == 0.0 and r.n_a == r.n_b == 500
    # disjoint supports -> worst-case CDF gap of exactly 1
    [r2] = features.ks_drift(
        _mk(spark, vals), _mk(spark, vals + 100.0), "v", "g"
    ).collect()
    assert r2.ks == 1.0


def test_ks_matches_scipy_free_reference(spark):
    """Exact parity with a pure-NumPy two-sample KS computed at every
    observed point (what scipy.stats.ks_2samp computes)."""
    rng = np.random.RandomState(10)
    a = rng.randn(400)
    b = rng.randn(300) * 1.5 + 0.3
    [r] = features.ks_drift(_mk(spark, a), _mk(spark, b), "v", "g").collect()
    pts = np.concatenate([a, b])
    fa = np.searchsorted(np.sort(a), pts, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pts, side="right") / len(b)
    assert abs(r.ks - round(float(np.max(np.abs(fa - fb))), 6)) < 1e-12


def test_ks_one_sided_group_is_null_and_groups_isolate(spark):
    a = spark.createDataFrame(
        [("x", 1.0), ("x", 2.0), ("only_a", 5.0)], "g string, v double"
    )
    b = spark.createDataFrame([("x", 1.0), ("x", 2.0)], "g string, v double")
    out = {r.g: r.ks for r in features.ks_drift(a, b, "v", "g").collect()}
    assert out["x"] == 0.0
    assert out["only_a"] is None  # no comparison exists on one side


def test_ks_more_sensitive_than_psi_on_shape_change(spark):
    """Same mean/range but different shape: KS sees the CDF gap that
    equi-width-bin PSI can underrate — the reason both live in the
    toolbox."""
    rng = np.random.RandomState(11)
    a = rng.uniform(-1, 1, 3000)  # flat
    b = np.clip(rng.randn(3000) * 0.25, -1, 1)  # peaked, same range/mean
    [rk] = features.ks_drift(_mk(spark, a), _mk(spark, b), "v", "g").collect()
    assert rk.ks > 0.2  # flat-vs-peaked measured ~0.25 at these params


def test_js_divergence_identical_zero_disjoint_ln2(spark):
    from opendosm_parquet_to_sqlite_spark.operators.features import (
        js_divergence,
    )

    same = spark.createDataFrame(
        [("g", c) for c in "xxyyzz"], "g string, c string"
    )
    out = js_divergence(same, same, "c", "g").collect()[0]
    assert out["js"] == pytest.approx(0.0, abs=1e-9)

    a = spark.createDataFrame([("g", "a1"), ("g", "a2")], "g string, c string")
    b = spark.createDataFrame([("g", "b1"), ("g", "b2")], "g string, c string")
    out = js_divergence(a, b, "c", "g").collect()[0]
    assert out["js"] == pytest.approx(math.log(2.0), abs=1e-6)


def test_js_divergence_matches_pure_python(spark):
    import collections

    from opendosm_parquet_to_sqlite_spark.operators.features import (
        js_divergence,
    )

    a_vals = [str(i % 5) for i in range(40)] + ["7"] * 10
    b_vals = [str(i % 4) for i in range(30)] + ["9"] * 5
    a = spark.createDataFrame([("g", v) for v in a_vals], "g string, c string")
    b = spark.createDataFrame([("g", v) for v in b_vals], "g string, c string")
    out = js_divergence(a, b, "c", "g").collect()[0]

    pa = collections.Counter(a_vals)
    pb = collections.Counter(b_vals)
    cats = set(pa) | set(pb)
    na, nb = len(a_vals), len(b_vals)
    js = 0.0
    for c in cats:
        p, q = pa.get(c, 0) / na, pb.get(c, 0) / nb
        m = (p + q) / 2
        if p > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0:
            js += 0.5 * q * math.log(q / m)
    assert out["js"] == pytest.approx(js, abs=1e-6)
    assert out["n_a"] == na and out["n_b"] == nb


def test_js_divergence_one_sided_group_is_null(spark):
    from opendosm_parquet_to_sqlite_spark.operators.features import (
        js_divergence,
    )

    a = spark.createDataFrame([("only_a", "x")], "g string, c string")
    b = spark.createDataFrame([("only_b", "y")], "g string, c string")
    out = {r["g"]: r for r in js_divergence(a, b, "c", "g").collect()}
    assert out["only_a"]["js"] is None
    assert out["only_b"]["js"] is None


# --- wasserstein_drift --------------------------------------------------------


def test_wasserstein_identical_zero_shift_exact(spark):
    from opendosm_parquet_to_sqlite_spark.operators.features import (
        wasserstein_drift,
    )

    vals = [1.0, 2.0, 5.0, 9.0]
    a = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    b_same = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double"
    )
    row = wasserstein_drift(a, b_same, "v", "g").collect()[0]
    assert row["w1"] == pytest.approx(0.0)
    # constant shift by c: W1 == c exactly
    b_shift = spark.createDataFrame(
        [("g", v + 3.0) for v in vals], "g string, v double"
    )
    row = wasserstein_drift(a, b_shift, "v", "g").collect()[0]
    assert row["w1"] == pytest.approx(3.0, abs=1e-6)


def test_wasserstein_hand_example_and_one_sided_group(spark):
    from opendosm_parquet_to_sqlite_spark.operators.features import (
        wasserstein_drift,
    )

    # a = {0, 1}, b = {1}: F_a steps .5 at 0 and 1; F_b steps 1 at 1.
    # gap on [0,1) is .5 -> W1 = 0.5
    a = spark.createDataFrame(
        [("g", 0.0), ("g", 1.0), ("only_a", 7.0)], "g string, v double"
    )
    b = spark.createDataFrame([("g", 1.0)], "g string, v double")
    out = {r["g"]: r for r in wasserstein_drift(a, b, "v", "g").collect()}
    assert out["g"]["w1"] == pytest.approx(0.5, abs=1e-6)
    assert out["only_a"]["w1"] is None  # no comparison defined
