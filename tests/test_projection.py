"""Distributed PCA and embedding pooling vs in-memory NumPy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from opendosm_parquet_to_sqlite_spark.operators import projection

D, N = 16, 400


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(7)
    # anisotropic cloud: a few dominant directions so PCA has signal
    scales = np.array([10.0, 5.0, 2.0] + [0.3] * (D - 3))
    basis = np.linalg.qr(rng.standard_normal((D, D)))[0]
    X = (rng.standard_normal((N, D)) * scales) @ basis.T + rng.standard_normal(D)
    return X


@pytest.fixture(scope="module")
def emb(spark, data):
    rows = [(i, [float(x) for x in data[i]]) for i in range(N)]
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")


def _numpy_oracle(X: np.ndarray, r: int):
    mean = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:r]
    comps = evecs[:, order].T
    for i in range(r):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mean, evals[order]


def test_moments_match_numpy(emb, data):
    # the float32 storage column quantizes the input: compare against
    # numpy moments of the ROUND-TRIPPED data
    Xf = data.astype(np.float32).astype(np.float64)
    n, s, gram = projection.gram_moments(emb, "embedding")
    assert n == N
    np.testing.assert_allclose(s, Xf.sum(axis=0), rtol=1e-9)
    np.testing.assert_allclose(gram, Xf.T @ Xf, rtol=1e-9)


def test_fit_matches_numpy_oracle(emb, data):
    Xf = data.astype(np.float32).astype(np.float64)
    comps, mean, ev = projection.pca_fit(emb, "embedding", r=3)
    ocomps, omean, oev = _numpy_oracle(Xf, 3)
    np.testing.assert_allclose(mean, omean, atol=1e-9)
    np.testing.assert_allclose(ev, oev, rtol=1e-6)
    # eigenvectors: same up to the pinned sign convention
    np.testing.assert_allclose(comps, ocomps, atol=1e-6)


def test_explained_variance_descends(emb):
    _, _, ev = projection.pca_fit(emb, "embedding", r=5)
    assert all(a >= b for a, b in zip(ev, ev[1:]))
    assert ev[0] > 10 * ev[3]  # dominant direction clearly separated


def test_projection_matches_numpy(emb, data):
    Xf = data.astype(np.float32).astype(np.float64)
    comps, mean, _ = projection.pca_fit(emb, "embedding", r=3)
    got = {
        r.vec_id: np.array(r.proj)
        for r in projection.project(emb, "vec_id", "embedding", comps, mean).collect()
    }
    want = (Xf - mean) @ comps.T
    for i in range(N):
        np.testing.assert_allclose(got[i], want[i], atol=1e-8)


def test_pca_beats_random_subspace_on_captured_variance(emb, data):
    """PCA captures more variance than a random ORTHONORMAL r-subspace at
    equal r — the reason to pay for the fit pass."""
    Xf = data.astype(np.float32).astype(np.float64)
    r = 3
    comps, mean, _ = projection.pca_fit(emb, "embedding", r=r)
    pca_var = np.var((Xf - mean) @ comps.T, axis=0).sum()
    Q = np.linalg.qr(
        np.random.default_rng(42).standard_normal((D, r))
    )[0].T  # r orthonormal random directions
    rand_var = np.var((Xf - Xf.mean(0)) @ Q.T, axis=0).sum()
    total = np.var(Xf - Xf.mean(0), axis=0).sum()
    assert pca_var > rand_var
    assert pca_var / total > 0.8  # 3 dominant directions >> the rest


def test_empty_and_tiny_inputs_raise(spark):
    empty = spark.createDataFrame([], schema="vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        projection.gram_moments(empty, "embedding")
    one = spark.createDataFrame(
        [(0, [1.0, 2.0])], schema="vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="at least 2"):
        projection.pca_fit(one, "embedding", r=1)


def test_pool_embeddings_mean_ragged_and_null(spark):
    from opendosm_parquet_to_sqlite_spark.operators.projection import (
        pool_embeddings,
    )

    df = spark.createDataFrame(
        [
            ("a", [1.0, 2.0, 3.0]),
            ("a", [3.0, 4.0, 5.0]),
            ("a", None),              # excluded entirely
            ("b", [1.0, 1.0]),
            ("b", [2.0]),             # ragged: pos 1 pools over 1 vector
        ],
        "g string, v array<double>",
    )
    out = {r["g"]: r for r in pool_embeddings(df, "v", "g").collect()}
    assert out["a"]["n_vecs"] == 2 and out["a"]["dim"] == 3
    assert list(out["a"]["pooled"]) == [2.0, 3.0, 4.0]
    assert out["b"]["n_vecs"] == 2 and out["b"]["dim"] == 2
    assert list(out["b"]["pooled"]) == [1.5, 1.0]


def test_pool_embeddings_shuffle_is_group_dim_sized(spark):
    """The explode must feed a partial agg (map-side combine) — the plan
    carries HashAggregate partial+final around one exchange keyed on
    (group, pos); no collect_list of raw vectors before the shuffle."""
    from opendosm_parquet_to_sqlite_spark.operators.projection import (
        pool_embeddings,
    )

    from .plan_audit import plan_report

    df = spark.createDataFrame(
        [("g", [float(i), float(i + 1)]) for i in range(100)],
        "g string, v array<double>",
    )
    rep = plan_report(pool_embeddings(df, "v", "g"))
    assert rep["n_cartesian"] == 0 and not rep["has_python_udf"]
    assert rep["n_hash_exchanges"] == 2  # (group,pos) partials + group reassembly
