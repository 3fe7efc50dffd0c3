"""Product quantization: codebook training, m-byte encoding, ADC scan,
and the exact-rerank composition. ann_pq is rows-only in the registry
(code assignment is engine-defined); these tests pin the semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _recall(exact, approx):
    e = set(zip(exact.query_id, exact.neighbor_id))
    a = set(zip(approx.query_id, approx.neighbor_id))
    return len(e & a) / len(e)


def test_codes_are_m_bytes_and_deterministic(emb):
    books = similarity.train_pq_codebooks(emb, m=8, n_codes=32)
    assert books.shape[0] == 8 and books.shape[2] == 8  # dim 64
    c1 = similarity.pq_encode(emb, books).toPandas()
    c2 = similarity.pq_encode(emb, books).toPandas()
    assert (c1.pq_codes.apply(len) == 8).all()
    m1 = dict(zip(c1.vec_id, c1.pq_codes))
    m2 = dict(zip(c2.vec_id, c2.pq_codes))
    assert m1 == m2
    # codes index into the book
    n_codes = books.shape[1]
    for b in c1.pq_codes:
        assert max(b) < n_codes


def test_adc_exact_when_corpus_is_codebook_spanned(spark):
    """Reconstruction-exact regime: every subvector IS a codebook entry,
    so ADC cosine == exact cosine and recall is 1.0 without rerank."""
    rng = np.random.RandomState(7)
    atoms = rng.randn(4, 8)  # 4 distinct subvectors, dsub=8
    # unit-norm atoms => every concatenation has norm sqrt(m), so row
    # normalization scales every subvector identically and the per-subspace
    # value set stays exactly 4 points — k-means recovers them exactly
    atoms /= np.linalg.norm(atoms, axis=1, keepdims=True)
    rows = []
    for i in range(60):
        v = np.concatenate([atoms[rng.randint(4)] for _ in range(8)])
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = similarity.train_pq_codebooks(
        df, m=8, n_codes=8, train_sample=60
    )
    codes = similarity.pq_encode(df, books)
    qs = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.brute_force_topk(df, qs, k=5).toPandas()
    adc = similarity.pq_topk(codes, qs, books, k=5).toPandas()
    assert _recall(exact, adc) == 1.0
    # scores agree to quantization-free precision
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.itertuples()}
    for r in adc.itertuples():
        assert abs(e[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-4


def test_rerank_recall_floor_on_fixture(emb, queries):
    exact = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    books = similarity.train_pq_codebooks(emb, m=16, n_codes=64)
    codes = similarity.pq_encode(emb, books)
    rr = similarity.pq_topk_rerank(
        emb, codes, queries, books, k=5, shortlist=50
    ).toPandas()
    assert _recall(exact, rr) >= 0.9
    # reranked scores are EXACT cosines (match brute force to 1e-6)
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.itertuples()}
    for r in rr.itertuples():
        if (r.query_id, r.neighbor_id) in e:
            assert abs(e[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-6


def test_raw_adc_recall_floor(emb, queries):
    """Raw ADC (no rerank) floor on the near-random fixture — documents
    the regime the rerank exists for."""
    exact = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    books = similarity.train_pq_codebooks(emb, m=16, n_codes=64)
    codes = similarity.pq_encode(emb, books)
    adc = similarity.pq_topk(codes, queries, books, k=5).toPandas()
    assert _recall(exact, adc) >= 0.3


def test_validation_errors(emb):
    with pytest.raises(ValueError, match="n_codes"):
        similarity.train_pq_codebooks(emb, m=8, n_codes=300)
    with pytest.raises(ValueError, match="divisible"):
        similarity.train_pq_codebooks(emb, m=7)


def test_ivfpq_equals_plain_ivf(emb, queries):
    """The composition pin: with a generous shortlist, IVFADC returns
    EXACTLY plain IVF's neighbors and scores (same probed cells, exact
    rerank) — PQ pruning changed the cost, not the answer."""
    ivf = similarity.ivf_topk(
        emb, queries, dim=64, k=5, n_centroids=16, n_probe=4
    ).toPandas()
    ivfpq = similarity.ivfpq_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, shortlist=50
    ).toPandas()
    a = {(r.query_id, r.neighbor_id): r.cosine for r in ivf.itertuples()}
    b = {(r.query_id, r.neighbor_id): r.cosine for r in ivfpq.itertuples()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


def test_ivfpq_more_probes_higher_recall(emb, queries):
    exact = similarity.brute_force_topk(emb, queries, k=5).toPandas()
    e = set(zip(exact.query_id, exact.neighbor_id))
    r = {}
    for n_probe in (4, 16):
        out = similarity.ivfpq_topk(
            emb, queries, k=5, n_centroids=16, n_probe=n_probe,
            shortlist=50,
        ).toPandas()
        a = set(zip(out.query_id, out.neighbor_id))
        r[n_probe] = len(e & a) / len(e)
    assert r[16] >= r[4] >= 0.5
    assert r[16] >= 0.95  # probing every cell ~= flat PQ + rerank


@pytest.mark.slow
def test_persisted_ivfpq_matches_inmemory(spark, emb, queries, tmp_path):
    """build_ivfpq_index -> probe_ivfpq_index (with rerank corpus) equals
    the in-memory ivfpq_topk exactly — same seeds, same centroids, same
    codebooks, same answers from a 16x-smaller persisted layout."""
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(
        emb, path, n_centroids=16, m=16, n_codes=64
    )
    probed = similarity.probe_ivfpq_index(
        spark, path, queries, corpus=emb, k=5, n_probe=4, shortlist=50
    ).toPandas()
    mem = similarity.ivfpq_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, m=16, n_codes=64,
        shortlist=50,
    ).toPandas()
    a = {(r.query_id, r.neighbor_id): r.cosine for r in probed.itertuples()}
    b = {(r.query_id, r.neighbor_id): r.cosine for r in mem.itertuples()}
    assert a == b


def test_persisted_ivfpq_codes_only_probe(spark, emb, queries, tmp_path):
    """Without a rerank corpus the probe returns ADC scores directly —
    compressed-only search, k rows per query."""
    path = str(tmp_path / "ivfpq2")
    similarity.build_ivfpq_index(emb, path, n_centroids=16, m=16, n_codes=64)
    out = similarity.probe_ivfpq_index(
        spark, path, queries, corpus=None, k=5, n_probe=4
    ).toPandas()
    assert len(out) == 50
    assert set(out.groupby("query_id").size()) == {5}


@pytest.mark.slow
def test_persisted_ivfpq_validates_dim(spark, emb, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "ivfpq3")
    similarity.build_ivfpq_index(
        emb.limit(100), path, n_centroids=4, m=8, n_codes=16
    )
    bad = spark.createDataFrame(
        [(0, [0.1] * 32)], "query_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="dim"):
        similarity.probe_ivfpq_index(spark, path, bad)


@pytest.mark.slow
def test_persisted_ivfpq_validates_artifact_consistency(spark, emb, tmp_path):
    """A hand-mixed index directory (meta from one build, artifacts from
    another) must fail loudly on probe, not rank wrongly."""
    import pytest as _pytest

    path = str(tmp_path / "ivfpq5")
    similarity.build_ivfpq_index(
        emb.limit(100), path, n_centroids=4, m=8, n_codes=16
    )
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "query_id long, embedding array<float>"
    )
    # corrupt: overwrite meta claiming a different build
    spark.createDataFrame(
        [(64, 8, 8, 16, 10_000, 42)],
        "dim int, n_centroids int, m int, n_codes int, train_sample int,"
        " seed int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    with _pytest.raises(ValueError, match="inconsistent"):
        similarity.probe_ivfpq_index(spark, path, q)


@pytest.mark.slow
def test_persisted_ivfpq_validates_rerank_corpus_dim(spark, emb, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as _F

    path = str(tmp_path / "ivfpq6")
    similarity.build_ivfpq_index(
        emb.limit(100), path, n_centroids=4, m=8, n_codes=16
    )
    q = emb.limit(1).select(
        _F.col("vec_id").alias("query_id"), "embedding"
    )
    bad_corpus = spark.createDataFrame(
        [(0, [0.1] * 32)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="rerank corpus dim"):
        similarity.probe_ivfpq_index(spark, path, q, corpus=bad_corpus)


def test_persisted_ivfpq_probe_prunes_partitions(spark, emb, queries, tmp_path):
    """The cell equi-join reaches the cell-partitioned parquet as a
    partition filter — the probe only READS probed cells."""
    import contextlib, io

    path = str(tmp_path / "ivfpq4")
    similarity.build_ivfpq_index(emb, path, n_centroids=16, m=16, n_codes=64)
    df = similarity.probe_ivfpq_index(
        spark, path, queries.limit(1), corpus=None, k=5, n_probe=2
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell" in plan


@pytest.mark.slow
def test_filtered_ivfadc_probe_respects_allowed_set(spark, emb, tmp_path):
    """allowed-set filtered compressed probe: every result id is allowed,
    at full probe the id set equals the plain probe's results restricted
    and re-ranked within the allowed corpus (the constraint applies
    BEFORE scoring, so excluded near-neighbors free up shortlist slots
    rather than masking them)."""
    from opendosm_parquet_to_sqlite_spark.operators import similarity

    path = str(tmp_path / "ivfpq_filt")
    similarity.build_ivfpq_index(emb, path, n_centroids=8, m=8)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    out = similarity.probe_ivfpq_index(
        spark, path, q, corpus=emb, k=5, n_probe=8, allowed=allowed
    ).collect()
    assert all(r["neighbor_id"] % 2 == 0 for r in out)
    # parity with brute force over the filtered corpus at full probe +
    # exact rerank: id sets match (ADC shortlist covers the true top-5)
    bf = similarity.brute_force_topk(
        emb.join(allowed, "vec_id", "left_semi"), q, k=5
    ).collect()
    bf_ids = {(r["query_id"], r["neighbor_id"]) for r in bf}
    got_ids = {(r["query_id"], r["neighbor_id"]) for r in out}
    overlap = len(bf_ids & got_ids) / len(bf_ids)
    assert overlap >= 0.9, overlap
