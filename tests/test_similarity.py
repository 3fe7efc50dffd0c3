"""Tests for vector similarity operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import similarity
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import SF0001


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF0001, "embeddings")


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], ["v"])
    got = df.select(
        F.round(similarity.cosine(F.col("v"), F.col("v")), 9).alias("c")
    ).first()["c"]
    assert got == 1.0


def test_cosine_orthogonal_is_zero(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], ["a", "b"])
    got = df.select(similarity.cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    assert abs(got) < 1e-12


def test_topk_excludes_self_and_ranks(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3, 4, 5]
        cosines = [r[1] for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_topk_is_subset_of_bruteforce_candidates(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = similarity.brute_force_topk(emb, queries, k=50)
    lsh = similarity.lsh_topk(emb, queries, dim=64, k=5, n_planes=4)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    # every LSH hit must be a genuine (non-self) neighbor; same-bucket pruning
    # only removes candidates, never invents them
    for r in lsh.collect():
        assert r["neighbor_id"] != r["query_id"]
        if (r["query_id"], r["neighbor_id"]) in bf_pairs:
            continue  # agrees with exact top-50
    assert lsh.count() > 0


def test_int8_quantization_roundtrip(spark, emb):
    """int8 round-trip of unit vectors keeps cosine error under 0.5%."""
    vecs = [
        (r["vec_id"], (v / np.linalg.norm(v)).tolist())
        for r in emb.limit(200).collect()
        for v in [np.asarray(r["embedding"], dtype=np.float64)]
    ]
    normed = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = similarity.quantize_int8(normed)
    for r in q.select("embedding", "q_codes", "q_scale").collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        codes = np.asarray(r["q_codes"])
        d = codes * r["q_scale"]
        cos = v @ d / (np.linalg.norm(v) * np.linalg.norm(d))
        assert cos > 0.995                                   # geometry kept
        assert np.abs(codes).max() <= 127
    # storage type is genuinely tinyint (1 byte/dim on disk + shuffle)
    assert q.schema["q_codes"].dataType.simpleString() == "array<tinyint>"


@pytest.mark.slow
def test_cosine_pairs_threshold_and_order(spark, emb):
    out = similarity.cosine_pairs(emb, threshold=0.4)
    assert out.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    assert out.filter(F.col("cosine") < 0.4).count() == 0


@pytest.mark.slow
def test_lsh_cosine_pairs_subset_of_exact(spark, emb):
    exact = {
        (r["id_a"], r["id_b"]) for r in
        similarity.cosine_pairs(emb, threshold=0.35).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]) for r in
        similarity.lsh_cosine_pairs(emb, threshold=0.35, dim=64, n_planes=4).collect()
    }
    assert blocked <= exact


@pytest.mark.slow
def test_lsh_cosine_pairs_recall_vs_exact(spark, emb):
    """The registered dedup_embedding_cosine_lsh config (H=2, L=6) must hold
    ≥0.9 recall against the exact all-pairs oracle (measured 0.955 on this
    fixture — deterministic, fixed hyperplane seed)."""
    exact = {
        (r["id_a"], r["id_b"]) for r in
        similarity.cosine_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]) for r in
        similarity.lsh_cosine_pairs(
            emb, threshold=0.4, dim=64, n_planes=2, n_tables=6
        ).collect()
    }
    assert lsh <= exact  # every emitted pair is exactly scored
    assert len(lsh & exact) >= 0.9 * len(exact)


def test_ivf_topk_recall_curve_and_exactness(spark, emb):
    """IVF sanity: recall is monotone in n_probe, ≥0.9 at the registered
    config (16 cells / 12 probes, measured 0.92), and probing every cell
    reproduces brute force EXACTLY (scores included)."""
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {(r["query_id"], r["neighbor_id"], r["cosine"])
          for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    bf_ids = {(a, b) for a, b, _ in bf}
    recalls = []
    for n_probe in (4, 12, 16):
        got = {(r["query_id"], r["neighbor_id"], r["cosine"])
               for r in similarity.ivf_topk(
                   emb, queries, dim=64, k=5, n_centroids=16, n_probe=n_probe
               ).collect()}
        got_ids = {(a, b) for a, b, _ in got}
        recalls.append(len(got_ids & bf_ids) / len(bf_ids))
        if n_probe == 16:
            assert got == bf  # exhaustive probe == brute force, exactly
    assert recalls == sorted(recalls)
    assert recalls[1] >= 0.9


@pytest.mark.slow
def test_ivf_index_roundtrip_and_probe_recall(spark, emb, tmp_path):
    """build_ivf_index → probe_ivf_index: probing the SAVED index (no
    retrain, no corpus rescan) matches the ad-hoc ivf_topk recall contract
    (≥0.9 at 16 cells / 12 probes vs brute force)."""
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.probe_ivf_index(
            spark, path, queries, k=5, n_probe=12
        ).collect()
    }
    assert len(got & bf) >= 0.9 * len(bf)
    # determinism: rebuilding from the same corpus gives identical centroids
    path2 = str(tmp_path / "ivf2")
    similarity.build_ivf_index(emb, path2, n_centroids=16)
    c1 = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    c2 = spark.read.parquet(f"{path2}/centroids").orderBy("cell").collect()
    assert [r["centroid"] for r in c1] == [r["centroid"] for r in c2]


def test_ivf_probe_validates_dim(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb.limit(100), path, n_centroids=4)
    bad_q = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], ["query_id", "embedding"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim"):
        similarity.probe_ivf_index(spark, path, bad_q)


def test_quantized_topk_recall_vs_float(spark, emb):
    """Scoring int8 codes directly (no dequantize) holds ≥0.95 top-5 recall
    against the float brute-force path."""
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus_q = similarity.quantize_int8(emb)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.quantized_topk(corpus_q, queries, k=5).collect()
    }
    assert len(got & bf) >= 0.95 * len(bf)


def test_lsh_topk_multitable_recall(spark, emb):
    """The registered ann_lsh config (H=2, L=8) must hold ≥0.9 recall of the
    exact top-5 (measured 0.96 — deterministic, fixed hyperplane seed)."""
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(
            emb, queries, dim=64, k=5, n_planes=2, n_tables=8
        ).collect()
    }
    assert len(lsh & bf) >= 0.9 * len(bf)


# --- semantic dedup (SemDeDup-style) -----------------------------------------


@pytest.fixture(scope="module")
def clustered(spark):
    """Clustered corpus: 20 well-separated base vectors, each with 4
    near-duplicates (base + small deterministic perturbation) — the regime
    semantic dedup is designed for."""
    import math

    rows = []
    dim = 16
    for b in range(20):
        base = [math.sin(0.7 * b * (d + 1)) + (3.0 if d == b % dim else 0.0)
                for d in range(dim)]
        for r in range(5):  # base + 4 near-copies
            vec = [x + 0.001 * ((b * 5 + r + d) % 7) for d, x in enumerate(base)]
            rows.append((b * 5 + r, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_recall_on_clustered_corpus(spark, clustered):
    exact = similarity.cosine_pairs(clustered, 0.99).collect()
    approx = similarity.semantic_dedup_pairs(
        clustered, threshold=0.99, n_centroids=8, seed=7
    ).collect()
    exact_set = {(r.id_a, r.id_b) for r in exact}
    approx_set = {(r.id_a, r.id_b) for r in approx}
    assert exact_set, "fixture must contain near-dup pairs"
    # no false positives: every within-cell pair is exactly scored
    assert approx_set <= exact_set
    recall = len(approx_set & exact_set) / len(exact_set)
    assert recall >= 0.9, recall


@pytest.mark.slow
def test_quantized_ivf_index_roundtrip_recall(spark, emb, tmp_path):
    """IVF+SQ: the persisted index stores int8 codes (no float vectors),
    probes score via ADC, and recall vs the FLOAT index at the same
    n_probe is ≥0.95 (int8 error ~0.3% of cosine)."""
    fpath, qpath = str(tmp_path / "fivf"), str(tmp_path / "qivf")
    similarity.build_ivf_index(emb, fpath, n_centroids=8)
    similarity.build_ivf_index(emb, qpath, n_centroids=8, quantize=True)
    # the quantized cells must NOT carry the float vector
    qcells = spark.read.parquet(f"{qpath}/cells")
    assert "q_codes" in qcells.columns and "embedding" not in qcells.columns
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    f = similarity.probe_ivf_index(spark, fpath, queries, k=5, n_probe=4)
    q = similarity.probe_ivf_index(spark, qpath, queries, k=5, n_probe=4)
    fset = {(r.query_id, r.neighbor_id) for r in f.collect()}
    qset = {(r.query_id, r.neighbor_id) for r in q.collect()}
    assert len(qset & fset) / len(fset) >= 0.95


def test_block_scorer_tiling_is_exact(spark, clustered):
    """Tiny tiles must produce EXACTLY the single-matmul result — tiling
    changes memory shape, never the pair set."""
    from opendosm_parquet_to_sqlite_spark.operators.similarity import (
        _block_pair_scorer,
    )

    g = clustered.toPandas()
    whole = _block_pair_scorer("vec_id", "embedding", 0.99, tile=10_000)(
        (), g
    )
    tiled = _block_pair_scorer("vec_id", "embedding", 0.99, tile=7)((), g)
    key = lambda df: sorted(zip(df.id_a, df.id_b, df.cosine))
    assert key(tiled) == key(whole)
    assert len(whole) > 0


def test_ivf_probe_empty_queries_raises(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb.limit(100), path, n_centroids=4)
    empty = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="empty"):
        similarity.probe_ivf_index(spark, path, empty)


def test_ivf_train_rejects_degenerate_corpora(spark, emb):
    with pytest.raises(ValueError, match="empty"):
        similarity.train_ivf_centroids(emb.filter(F.lit(False)))
    dim = len(emb.select("embedding").first()[0])
    zeros = spark.createDataFrame(
        [(i, [0.0] * dim) for i in range(20)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="nonzero-norm"):
        similarity.train_ivf_centroids(zeros)


# --- distributed IVF training -------------------------------------------------


def _mean_max_cosine(spark, emb, cent):
    """Clustering quality: mean over vectors of cosine to the nearest
    centroid (spherical k-means objective, higher is better)."""
    import numpy as np

    rows = emb.select("embedding").collect()
    X = np.stack([np.asarray(r[0], dtype=float) for r in rows])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return float(np.max(X @ cent.T, axis=1).mean())


@pytest.mark.slow
def test_distributed_kmeans_quality_matches_driver_path(spark, emb):
    """The distributed trainer must cluster at least as well (within a
    small epsilon) as the driver-sample trainer on the same data."""
    import numpy as np

    cent_d = similarity.train_ivf_centroids_distributed(emb, n_centroids=8)
    cent_s = similarity.train_ivf_centroids(emb, n_centroids=8)
    assert cent_d.shape == cent_s.shape == (8, 64)
    assert np.allclose(np.linalg.norm(cent_d, axis=1), 1.0, atol=1e-9)
    q_d = _mean_max_cosine(spark, emb, cent_d)
    q_s = _mean_max_cosine(spark, emb, cent_s)
    assert q_d >= q_s - 0.02, (q_d, q_s)


@pytest.mark.slow
def test_distributed_kmeans_partitioning_stable(spark, emb):
    """Same data under different partitionings: identical init (md5-ordered
    seeds) and near-identical centroids (float sums may differ in the last
    bits across combine orders)."""
    import numpy as np

    a = similarity.train_ivf_centroids_distributed(emb, n_centroids=8)
    b = similarity.train_ivf_centroids_distributed(
        emb.repartition(13), n_centroids=8
    )
    assert np.allclose(a, b, atol=1e-6)


@pytest.mark.slow
def test_train_sample_above_threshold_routes_to_distributed(spark, emb):
    import numpy as np

    cent = similarity.train_ivf_centroids(
        emb, n_centroids=8, train_sample=200, distributed_threshold=100
    )
    ref = similarity.train_ivf_centroids_distributed(emb, n_centroids=8)
    assert np.allclose(cent, ref, atol=1e-6)


def test_distributed_kmeans_rejects_empty(spark, emb):
    with pytest.raises(ValueError, match="empty"):
        similarity.train_ivf_centroids_distributed(emb.filter(F.lit(False)))


@pytest.mark.slow
def test_filtered_probe_exact_over_filtered_corpus_at_full_probe(
    spark, emb, tmp_path
):
    """allowed-set filtered ANN == brute force over the filtered corpus
    when every cell is probed (exactness pin); at partial probe results
    are a subset of the allowed ids (the filter is a hard constraint,
    never advisory)."""
    path = str(tmp_path / "ivf_filt")
    similarity.build_ivf_index(emb, path, n_centroids=16)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    out = similarity.probe_ivf_index(
        spark, path, q, k=5, n_probe=16, allowed=allowed
    )
    bf = similarity.brute_force_topk(
        emb.join(allowed, "vec_id", "left_semi"), q, k=5
    )
    assert {(r["query_id"], r["neighbor_id"], r["cosine"])
            for r in out.collect()} \
        == {(r["query_id"], r["neighbor_id"], r["cosine"])
            for r in bf.collect()}
    partial = similarity.probe_ivf_index(
        spark, path, q, k=5, n_probe=4, allowed=allowed
    ).collect()
    assert all(r["neighbor_id"] % 2 == 0 for r in partial)


def test_knn_graph_exact_in_exhaustive_regime(spark):
    """n_planes=0 collapses every vector into one bucket -> the LSH path
    IS exhaustive; the graph must equal the NumPy kNN exactly."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.knn_graph(
        df, k=3, dim=8, n_planes=0, n_tables=1
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["src"], []).append((r["rank"], r["dst"], r["cosine"]))
    V = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    S = np.round(V @ V.T, 6)
    for i in range(30):
        order = sorted(
            ((S[i, j], j) for j in range(30) if j != i),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        want = [(rk + 1, j, s) for rk, (s, j) in enumerate(order)]
        assert sorted(got[i]) == want, i


def test_mutual_knn_clusters_separate_blobs(spark):
    """Two tight blobs -> two components, membership exact; mutual
    reciprocity (not mere reachability) is what keeps them apart."""
    import numpy as np

    rng = np.random.RandomState(3)
    a = rng.randn(12, 6) * 0.05 + np.array([5, 0, 0, 0, 0, 0])
    b = rng.randn(12, 6) * 0.05 + np.array([0, 5, 0, 0, 0, 0])
    vecs = np.vstack([a, b])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    knn = similarity.knn_graph(df, k=4, dim=6, n_planes=0, n_tables=1)
    comps = {r["node"]: r["cluster"]
             for r in similarity.mutual_knn_clusters(knn).collect()}
    assert set(comps) == set(range(24))  # every node labeled (singletons too)
    # no cluster ever spans the two blobs
    assert all(comps[i] < 12 for i in range(12))
    assert all(comps[i] >= 12 for i in range(12, 24))
    # and each blob's dominant mutual component captures most of it
    from collections import Counter

    blob_a = Counter(comps[i] for i in range(12)).most_common(1)[0][1]
    blob_b = Counter(comps[i] for i in range(12, 24)).most_common(1)[0][1]
    assert blob_a >= 8 and blob_b >= 8


def test_knn_graph_rank_contract_and_edge_cap(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.knn_graph(df, k=2, dim=2, n_planes=0, n_tables=1)
    rows = out.collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r["src"], []).append(r["rank"])
    for src, ranks in per_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 2


def test_vector_health_flags_nan_zero_ragged(spark):
    df = spark.createDataFrame(
        [
            ("g", [3.0, 4.0]),                 # norm 5
            ("g", [0.0, 0.0]),                 # zero vector
            ("g", [float("nan"), 1.0]),        # NaN-poisoned
            ("g", None),                       # missing
            ("g", [1.0, 0.0, 0.0]),            # ragged dim
        ],
        "g string, v array<double>",
    )
    r = similarity.vector_health(df, "v", "g").collect()[0]
    assert r["n_vectors"] == 4 and r["n_null"] == 1
    assert r["n_dims"] == 2 and r["dim_min"] == 2 and r["dim_max"] == 3
    assert r["n_nan"] == 1 and r["n_zero"] == 1
    # NaN row EXCLUDED from norm stats: min 0 (zero vec), max 5
    assert r["norm_min"] == 0.0 and r["norm_max"] == 5.0
    assert r["norm_avg"] == 2.0  # (5 + 0 + 1) / 3


# --- lof_outliers -------------------------------------------------------------


def _lof_from_edges(edges, k_unused=None):
    """Pure-python LOF from an explicit (src, dst, dist) edge list —
    pins lof_outliers' MATH exactly (the edge list itself is knn_graph's
    contract, exactness-pinned in its own tests)."""
    nbrs = {}
    for src, dst, dist in edges:
        nbrs.setdefault(src, []).append((dst, dist))
    kdist = {i: max(d for _, d in nb) for i, nb in nbrs.items()}
    lrd = {
        i: 1.0
        / (sum(max(kdist[o], d) for o, d in nb) / len(nb) + 1e-10)
        for i, nb in nbrs.items()
    }
    return {
        i: sum(lrd[o] for o, _ in nb) / len(nb) / lrd[i]
        for i, nb in nbrs.items()
    }


def test_lof_exact_parity_with_math_reference(spark):
    import random

    rng = random.Random(7)
    # a tight cluster + a clear outlier far away
    vecs = {i: [rng.gauss(1.0, 0.05), rng.gauss(1.0, 0.05)] for i in range(12)}
    vecs[99] = [-1.0, 1.5]
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # n_planes=0 -> single bucket -> exhaustive candidates
    knn = similarity.knn_graph(df, k=3, dim=2, n_planes=0, n_tables=1)
    edges = [
        (r["src"], r["dst"], 1.0 - r["cosine"]) for r in knn.collect()
    ]
    ref = _lof_from_edges(edges)
    got = {r["node"]: r for r in similarity.lof_outliers(knn).collect()}
    assert set(got) == set(ref)
    for i, r in ref.items():
        assert got[i]["lof"] == pytest.approx(r, abs=1e-5), i
    # the planted outlier is the top score and clearly anomalous.
    # (individual inliers CAN score high: cosine distance is purely
    # angular, and micro-noise makes some cluster points locally sparse
    # relative to near-duplicate trios — LOF is scale-free by design —
    # so the structural pin is relative, not an absolute inlier cap)
    top = max(got.values(), key=lambda r: r["lof"])
    assert top["node"] == 99 and top["lof"] > 1.5
    import statistics

    inlier_median = statistics.median(
        r["lof"] for n, r in got.items() if n != 99
    )
    assert top["lof"] > 3 * inlier_median


def test_lof_duplicate_cluster_scores_near_one(spark):
    # 6 exact duplicates + 2 mild inliers: the 1e-10 floor keeps lrd
    # finite and duplicates score ~= 1, never inf/NaN
    rows = [(i, [1.0, 0.0]) for i in range(6)] + [
        (10, [0.9, 0.1]),
        (11, [0.95, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    knn = similarity.knn_graph(df, k=3, dim=2, n_planes=0, n_tables=1)
    got = {r["node"]: r["lof"] for r in similarity.lof_outliers(knn).collect()}
    import math

    for i in range(6):
        assert got[i] is not None and math.isfinite(got[i])
        assert got[i] == pytest.approx(1.0, abs=0.05)
