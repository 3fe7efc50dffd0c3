"""Vector similarity search over embedding columns (north-star M5).

Embeddings are `array<float>` (testdata: embeddings.embedding, dim 64). All
arithmetic is native Column expressions — zip_with/aggregate run inside the
JVM; no Python in the hot path. Floats are promoted to double before any
arithmetic so results match a double-precision oracle bit-for-bit modulo
rounding (scores are rounded to 6 dp *before* ranking, with id tie-breaks,
making top-k deterministic across engines).

Scale paths:
- brute_force_topk: broadcast the (small) query set, stream the corpus once.
  Per-row cost O(Q·D). Right answer for Q ≤ a few thousand at any corpus size
  — the corpus is never shuffled.
- lsh_topk: random-hyperplane (sign-LSH) bucketing with MULTI-TABLE OR'd
  probing — L independent hyperplane tables; a candidate survives if it
  collides with the query in ANY table. Per-neighbor recall at angle θ is
  1-(1-(1-θ/π)^H)^L, so the (H, L) pair is the recall knob: fewer planes
  or more tables → higher recall, larger candidate fraction. For far
  neighbors (cosine ≈ 0.3, θ ≈ 72°) H must be small (2) and L several (6)
  to clear 0.9 recall; for tight near-dup regimes (cosine ≥ 0.9) H=8-16
  with L=4 prunes aggressively at the same recall. At 100 TB the candidate
  generation is a bucket equi-join (pairs) or a broadcast overlap probe
  (top-k) — never an all-pairs scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Deterministic hyperplanes for sign-LSH (fixed seed → stable across runs).
_LSH_SEED = 42


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision (left-to-right, same as the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = _as_double(a), _as_double(b)
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    queries must carry (query_id_col, vec_col). The query side is broadcast;
    the corpus is scanned exactly once with no shuffle of the vectors —
    the only exchange is the final per-query top-k (tiny: Q·k rows after
    per-partition pruning by the window's rank pushdown under AQE).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    scored = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(q)
    scored = scored.filter(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = _LSH_SEED) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_bucket(
    vec_col: Column, dim: int, n_planes: int = 8, seed: int = _LSH_SEED
) -> Column:
    """Sign-LSH bucket id: H sign bits from fixed random hyperplanes → int."""
    v = _as_double(vec_col)
    bucket = F.lit(0)
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(v, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + bit * F.lit(2**i)
    return bucket


def multi_lsh_buckets(
    vec_col: Column,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = _LSH_SEED,
) -> Column:
    """array<long> of table-tagged bucket ids, one per hash table.

    Entry t is t·2^H + bucket_t (tables use disjoint id ranges, so a match
    in the array means 'same bucket in the same table'). OR'd probing =
    non-empty intersection of two such arrays."""
    return F.array(
        *[
            (
                F.lit(t * (1 << n_planes))
                + lsh_bucket(vec_col, dim, n_planes, seed=seed + 7919 * t)
            ).cast("long")
            for t in range(n_tables)
        ]
    )


def multi_lsh_buckets_vec(
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = _LSH_SEED,
):
    """Arrow-vectorized twin of `multi_lsh_buckets`: the SAME hyperplanes
    (same seeds, same table-tagged id ranges) evaluated as ONE BLAS
    matmul per Arrow batch instead of n_tables·n_planes interpreted
    `aggregate(zip_with(...))` dot products per row.

    Why it exists: higher-order functions are interpreted, not
    codegen'd — at 8 tables × 9 planes × dim 64 the expression tree
    costs ~0.5 ms/row and, worse, runs at the SCAN's parallelism (the
    embeddings parquet splits into ~2 input partitions at probe scale,
    so 200k rows × 72 dots ran on 2 cores — the measured sf10
    knn_clusters build bottleneck). One (batch × dim)·(dim × T·H)
    matmul amortizes the same math to ~1 µs/row and the narrow
    projection parallelizes with the batch stream.

    Semantics: bit_i = (v · plane_i ≥ 0) exactly as the Column twin;
    float64 matmul vs the twin's left-to-right fold can disagree only
    when a dot product sits within summation-reorder ULPs of 0.0 — a
    measure-zero event on random Gaussian planes, and both paths are
    individually deterministic run-to-run. NULL vectors get every bit
    0 (bucket = table base), matching `F.when(NULL >= 0)`'s otherwise
    branch. Returns a pandas_udf producing array<long>, one tagged
    bucket id per table.
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.concatenate(
        [
            np.asarray(_hyperplanes(dim, n_planes, seed + 7919 * t))
            for t in range(n_tables)
        ]
    ) if n_planes else np.zeros((0, dim))
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    base = (np.arange(n_tables, dtype=np.int64)) * (1 << n_planes)

    @pandas_udf("array<long>")
    def buckets(vs: pd.Series) -> pd.Series:
        null_mask = vs.isna().to_numpy()
        if null_mask.all() or n_planes == 0:
            return pd.Series([base.copy() for _ in range(len(vs))])
        M = np.stack(
            [
                np.asarray(v, dtype=np.float64)
                if v is not None
                else np.zeros(dim)
                for v in vs
            ]
        )
        bits = (M @ planes.T) >= 0  # (batch, T·H)
        ids = (
            bits.reshape(len(M), n_tables, n_planes).astype(np.int64)
            @ weights
            + base
        )
        if null_mask.any():
            ids[null_mask] = base
        return pd.Series(list(ids))

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 2,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k with multi-table OR'd probing.

    A corpus row is a candidate for a query iff they share a bucket in ANY
    of the L tables (arrays_overlap on table-tagged bucket arrays). The
    query side is broadcast, so the corpus is scanned once with no shuffle
    of the vectors; the overlap test (L-long int arrays) is evaluated
    BEFORE the O(D) cosine, so pruned rows never pay the dot product.
    Candidates arrive naturally deduplicated (one row per (query, corpus)
    pair regardless of how many tables collide).

    Defaults (H=2, L=6) target ≥0.9 recall for far neighbors (cosine ≈ 0.3,
    the regime of the test embeddings); tighten H upward when the neighbor
    regime is closer (near-dup cosine ≥ 0.9 → H=8-16).
    """
    # same Arrow-vectorized bucketer as lsh_cosine_pairs (identical
    # geometry on both sides — the corpus-side interpreted HOF dots were
    # the scan bottleneck at probe scale)
    bucketer = multi_lsh_buckets_vec(dim, n_planes, n_tables)
    c = corpus.select(
        F.col(id_col), F.col(vec_col),
        bucketer(F.col(vec_col)).alias("__b"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            bucketer(F.col(vec_col)).alias("__qb"),
        )
    )
    scored = (
        c.join(q, F.arrays_overlap("__b", "__qb"))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def _safe_normalize(M: "np.ndarray") -> "np.ndarray":
    """Row-normalize, mapping zero-norm rows to zero vectors (never NaN)."""
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return M / norms


def _kmeans_centroids(
    vectors: "np.ndarray", k: int, n_iters: int = 12, seed: int = _LSH_SEED
) -> "np.ndarray":
    """Plain Lloyd k-means on a driver-side sample (normalized rows) —
    the coarse-quantizer training step of an IVF index. Deterministic
    (seeded init); ~k·n·d·iters flops, trivial for sample sizes that fit
    a driver (the standard IVF recipe: train on a sample, assign at scale)."""
    rng = np.random.RandomState(seed)
    X = _safe_normalize(vectors)
    cent = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(X @ cent.T, axis=1)  # cosine on normalized rows
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cent[c] = m / norm
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    queries probe their n_probe nearest centroid cells.

    The scale shape for regimes where hyperplane LSH prunes poorly (far
    neighbors — see PLANS.md): candidate fraction ≈ n_probe/n_centroids on
    balanced cells, and recall tracks the data's cluster structure rather
    than random-hyperplane geometry. Plan: centroids train on a bounded
    driver-side sample (standard IVF recipe), ship to executors as literals,
    cell assignment + scoring are one vectorized Pandas-UDF scan of the
    corpus joined against the broadcast probe set — the corpus never
    shuffles, exactly like brute force but touching only probed cells.
    """
    cent = train_ivf_centroids(
        corpus, n_centroids, train_sample, id_col=id_col, vec_col=vec_col
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _assign_cell_udf(cent)(F.col(vec_col)).alias("__cell"),
    )
    return _ivf_score(
        c, queries, cent, k, n_probe, id_col, vec_col, query_id_col,
        cell_col="__cell",
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _LSH_SEED,
    distributed_threshold: int = 100_000,
) -> "np.ndarray":
    """Deterministic coarse-quantizer training: the sample is the first
    `train_sample` rows by id (an arbitrary-but-stable choice — limit()
    without ordering is partition-nondeterministic and would make
    centroids, cells, and recall vary run to run). Zero-norm vectors are
    dropped from training (they carry no direction).

    train_sample > distributed_threshold switches to the DISTRIBUTED
    trainer (train_ivf_centroids_distributed): the driver-side sample
    collect stops being sane somewhere around 10^5 vectors, and beyond it
    Lloyd iterations run as Spark aggregations over the full corpus with
    only k x dim centroid floats ever reaching the driver. The default
    path is unchanged (same seeded sample, same centroids)."""
    if train_sample > distributed_threshold:
        return train_ivf_centroids_distributed(
            corpus, n_centroids, id_col=id_col, vec_col=vec_col, seed=seed
        )
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(train_sample)
        .collect()
    )
    X = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    if X.size == 0:
        raise ValueError(
            "training corpus is empty — cannot train IVF centroids"
        )
    X = X[np.linalg.norm(X, axis=1) > 0]
    if X.shape[0] == 0:
        raise ValueError(
            "no nonzero-norm vectors in the training sample — cannot train "
            "IVF centroids (all-zero embeddings carry no direction)"
        )
    return _kmeans_centroids(X, n_centroids, seed=seed)


def train_ivf_centroids_distributed(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _LSH_SEED,
) -> "np.ndarray":
    """Spherical Lloyd k-means over the FULL corpus as Spark jobs — the
    trainer for corpora too large to sample to the driver.

    Per iteration: one narrow assignment map (broadcast centroids inside
    the vectorized pandas_udf) + one keyed partial aggregation of
    per-dimension normalized-vector sums (dim native `sum(vec[i]/norm)`
    columns — map-side combined, so the shuffle carries k x (dim+1)
    doubles per task, and only k rows reach the driver). Nothing larger
    than the k x dim centroid matrix is ever collected.

    Mirrors the driver-side _kmeans_centroids objective exactly (cosine
    assignment, normalized-mean update, zero-norm rows dropped); results
    differ only by init (deterministic md5-ordered seed rows here, seeded
    RNG choice there) and float summation order — quality floors, not
    exact centroid equality, are the test contract. Empty cells keep
    their previous centroid, as in the driver path."""
    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError(
            "training corpus is empty — cannot train IVF centroids"
        )
    dim = len(first[0])
    v = F.col(vec_col)
    sq_norm = None
    for i in range(dim):
        term = v[i] * v[i]
        sq_norm = term if sq_norm is None else sq_norm + term
    norm_col = F.sqrt(sq_norm)
    # deterministic seeded init without a data-sized collect: the k rows
    # with the smallest md5(seed:id) — stable under any partitioning.
    # Oversample 4x so zero-norm seed rows can be dropped.
    seed_rows = (
        corpus.select(id_col, vec_col)
        .filter(norm_col > 0)
        .orderBy(
            F.md5(F.concat(F.lit(f"ivf{seed}:"), F.col(id_col).cast("string"))),
            F.col(id_col),
        )
        .limit(n_centroids * 4)
        .collect()
    )
    X = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows])
    if X.size == 0:
        raise ValueError(
            "no nonzero-norm vectors in the training corpus — cannot train "
            "IVF centroids (all-zero embeddings carry no direction)"
        )
    cent = _safe_normalize(X[: min(n_centroids, len(X))])
    normed = corpus.select(
        *[(v[i] / norm_col).alias(f"e{i}") for i in range(dim)], vec_col
    ).filter(norm_col > 0)
    for _ in range(n_iters):
        assigned = normed.withColumn("cell", _assign_cell_udf(cent)(v))
        agg = (
            assigned.groupBy("cell")
            .agg(*[F.sum(f"e{i}").alias(f"s{i}") for i in range(dim)])
            .collect()
        )
        new = cent.copy()
        for r in agg:
            s = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.float64)
            nrm = np.linalg.norm(s)
            if nrm > 0:
                new[r["cell"]] = s / nrm
        moved = float(np.abs(new - cent).max())
        cent = new
        if moved < 1e-9:
            break
    return cent


def _assign_cell_udf(cent: "np.ndarray"):
    """Vectorized nearest-centroid assignment (one matmul per Arrow batch);
    centroids ship to executors inside the serialized UDF (small:
    n_centroids × dim doubles)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def assign_cell(vs: pd.Series) -> pd.Series:
        M = _safe_normalize(
            np.stack(vs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        )
        return pd.Series(np.argmax(M @ cent.T, axis=1).astype("int32"))

    return assign_cell


def _probe_cells_udf(cent: "np.ndarray", n_probe: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        M = _safe_normalize(
            np.stack(vs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        )
        order = np.argsort(-(M @ cent.T), axis=1)[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    return probe_cells


def _cosine_vec_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cosine_vec(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.apply(lambda v: np.asarray(v, dtype=np.float64)))
        B = np.stack(b.apply(lambda v: np.asarray(v, dtype=np.float64)))
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        den[den == 0] = 1.0
        return pd.Series(np.round(num / den, 6))

    return cosine_vec


def _ivf_score(
    assigned: DataFrame,
    queries: DataFrame,
    cent: "np.ndarray",
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    cell_col: str,
    quantized: bool = False,
) -> DataFrame:
    """Probe-join + score + per-query top-k shared by the ad-hoc and
    persisted-index IVF paths. The probe set is broadcast, so the join
    against `assigned` never shuffles the corpus; when `assigned` is a
    cell-partitioned parquet read, the equi-join key doubles as a
    partition filter (only probed cells are scanned).

    quantized=True scores the stored int8 `q_codes` directly against the
    float query (asymmetric ADC — cosine is scale-invariant, so the same
    kernel applies and the per-vector scale never needs loading)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(
                _probe_cells_udf(cent, n_probe)(F.col(vec_col))
            ).alias(cell_col),
        )
    )
    corpus_vec = F.col("q_codes") if quantized else F.col(vec_col)
    scored = (
        assigned.join(q, cell_col)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            _cosine_vec_udf()(corpus_vec, F.col("__qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def _cell_rows(
    df: DataFrame, cent: "np.ndarray", quantized: bool, id_col: str, vec_col: str
) -> DataFrame:
    """Cell-assigned rows in the index's storage schema: float vectors, or
    int8 codes when the index is quantized (the float vector is dropped —
    ADC probing never needs it, and codes are 4× smaller on disk AND in
    the probe-time scan)."""
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        _assign_cell_udf(cent)(F.col(vec_col)).alias("cell"),
    )
    if not quantized:
        return assigned
    return quantize_int8(assigned, vec_col=vec_col, prefix="q").select(
        F.col(id_col), F.col("q_codes"), F.col("cell")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _LSH_SEED,
    quantize: bool = False,
) -> None:
    """Train and PERSIST an IVF index: centroids + cell assignments +
    parameters, all parquet under `path`.

    Layout:
      path/centroids — (cell, centroid array<double>)
      path/cells     — (vec_id, embedding, cell) PARTITIONED BY cell, so a
                       probe reads only n_probe/n_centroids of the data
                       (real partition pruning, the IVF promise); with
                       quantize=True the embedding is replaced by int8
                       q_codes (IVF+SQ: 4× smaller index, probed with
                       asymmetric ADC scoring — recall vs the float index
                       is test-pinned)
      path/meta      — one row of build parameters, validated on probe
    """
    spark = corpus.sparkSession
    cent = train_ivf_centroids(
        corpus, n_centroids, train_sample, id_col, vec_col, seed
    )
    dim = int(cent.shape[1])
    spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(cent)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [(dim, int(cent.shape[0]), train_sample, seed, int(quantize))],
        "dim int, n_centroids int, train_sample int, seed int, quantized int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    rows = _cell_rows(corpus, cent, quantize, id_col, vec_col)
    rows.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")


def _load_ivf_meta(spark, path: str) -> tuple["np.ndarray", dict]:
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cent = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    if cent.shape != (meta["n_centroids"], meta["dim"]):
        raise ValueError(
            f"IVF index at {path} is corrupt: centroids {cent.shape} != "
            f"meta ({meta['n_centroids']}, {meta['dim']})"
        )
    return cent, meta


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k against a PERSISTED IVF index (build_ivf_index) — loads the
    (small) centroid table to the driver, probes n_probe cells per query,
    and scans ONLY those cell partitions of the stored corpus. Query dim
    is validated against the index metadata (a silent mismatch would score
    garbage).

    `allowed` turns this into FILTERED ANN — "neighbors among documents
    satisfying a metadata predicate" (lang, license, quality tier), the
    realistic retrieval op over a curated corpus. Pass the permitted ids
    as a one-column DataFrame (however derived — any predicate over any
    table); the probed cell scan LEFT-SEMI joins it BEFORE any vector
    math, so the expensive scoring touches only surviving rows and the
    join runs after partition pruning (AQE broadcasts a small allowed
    set at runtime). Recall caveat, standard for post-filtered IVF: a
    highly selective filter thins probed cells — raise n_probe (results
    are exact-over-the-filtered-corpus at n_probe = n_centroids, the
    pytest pin)."""
    cent, meta = _load_ivf_meta(spark, path)
    qrow = queries.select(vec_col).first()
    if qrow is None:
        raise ValueError("queries is empty — nothing to probe")
    qdim = len(qrow[0])
    if qdim != meta["dim"]:
        raise ValueError(
            f"query dim {qdim} != index dim {meta['dim']} (index at {path})"
        )
    cells = spark.read.parquet(f"{path}/cells")
    if allowed is not None:
        cells = cells.join(
            allowed.select(F.col(allowed.columns[0]).alias(id_col)),
            id_col,
            "left_semi",
        )
    return _ivf_score(
        cells, queries, cent, k, n_probe, id_col, vec_col, query_id_col,
        cell_col="cell", quantized=bool(meta.get("quantized", 0)),
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "q"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: 4× smaller storage/shuffle
    for the embedding column at a ~0.3% cosine error (test-pinned).

    Emits `{prefix}_codes` (array<tinyint>, v_i ≈ code_i · scale) and
    `{prefix}_scale` (float). Per-vector scales make the codes robust to
    heterogeneous norms; on unit-normalized inputs they are ~constant.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<codes: array<tinyint>, scale: float>")
    def q(vs: pd.Series) -> pd.DataFrame:
        M = np.stack(vs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        scale = np.abs(M).max(axis=1) / 127.0
        scale[scale == 0] = 1.0
        codes = np.rint(M / scale[:, None]).astype(np.int8)
        return pd.DataFrame({"codes": list(codes), "scale": scale.astype(np.float32)})

    out = df.withColumn("__q", q(F.col(vec_col)))
    return (
        out.withColumn(f"{prefix}_codes", F.col("__q.codes"))
        .withColumn(f"{prefix}_scale", F.col("__q.scale"))
        .drop("__q")
    )


def quantized_topk(
    corpus_q: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix: str = "q",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact-shape top-k scored DIRECTLY on int8 codes — the search path
    for a quantized corpus (quantize_int8): 4× less memory/shuffle than
    dequantize-then-score, because float vectors are never rebuilt outside
    a transient Arrow batch.

    Asymmetric scoring (ADC): the float query vector scores against int8
    corpus codes; cosine(v, q) ≈ (codes·q)·scale / (|codes|·scale · |q|)
    — the per-vector scale cancels in the cosine, so the score needs only
    the integer code matrix and the float query. Recall vs the float path
    is test-pinned (≥0.95 on the fixture; ≈1.0 in practice — int8 error is
    ~0.3% of cosine).

    Plan shape is identical to brute_force_topk: broadcast queries, one
    corpus scan, no vector shuffle, final per-query top-k window.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def adc_cosine(codes: pd.Series, qv: pd.Series) -> pd.Series:
        C = np.stack(codes.apply(lambda v: np.asarray(v, dtype=np.int32)))
        Q = np.stack(qv.apply(lambda v: np.asarray(v, dtype=np.float64)))
        num = np.einsum("ij,ij->i", C.astype(np.float64), Q)
        den = np.linalg.norm(C, axis=1).astype(np.float64) * np.linalg.norm(
            Q, axis=1
        )
        den[den == 0] = 1.0
        return pd.Series(np.round(num / den, 6))

    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    )
    scored = (
        corpus_q.select(F.col(id_col), F.col(f"{prefix}_codes"))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            adc_cosine(F.col(f"{prefix}_codes"), F.col("__qvec")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


_PAIR_SCHEMA = "id_a long, id_b long, cosine double"


def _block_pair_scorer(
    id_col: str, vec_col: str, threshold: float, tile: int = 2048
):
    """applyInPandas kernel shared by the blocked pair paths (sign-LSH
    buckets, SemDeDup cells): BLAS matmuls over the normalized block
    matrix, upper-triangle thresholded. Zero-norm rows are guarded
    (normalized to zero → cosine 0, never NaN).

    The matmul is TILED: an m-row block scores as (tile × tile) panels, so
    scratch memory is O(tile²) ≈ 32 MB regardless of block size — an
    oversized bucket degrades to more panels, never to an m² similarity
    matrix in one allocation. (The group's VECTORS still arrive as one
    Arrow batch — m·dim·8 bytes — so bucket-count knobs remain the
    first-line control; the tiling removes the quadratic term.)"""

    def score_block(key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        ids = g[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        V = np.stack(g[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        V /= norms
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, m, tile):
            i1 = min(i0 + tile, m)
            for j0 in range(i0, m, tile):
                j1 = min(j0 + tile, m)
                S = V[i0:i1] @ V[j0:j1].T
                ii, jj = np.nonzero(np.round(S, 6) >= threshold)
                gi, gj = ii + i0, jj + j0
                keep = gi < gj  # upper triangle in GLOBAL indices
                if keep.any():
                    out_a.append(ids[gi[keep]])
                    out_b.append(ids[gj[keep]])
                    out_s.append(np.round(S[ii[keep], jj[keep]], 6))
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_s),
            }
        )

    return score_block


def _block_topk_scorer(
    id_col: str, vec_col: str, threshold: float, kk: int, tile: int = 2048
):
    """applyInPandas kernel for the kNN-graph regime: per bucket, emit for
    every member only its `kk` best co-members by (cosine DESC, id ASC)
    instead of EVERY thresholded pair.  Provably graph-identical for a
    downstream per-node top-k window: if v is not among u's kk best in a
    shared bucket, that bucket already holds kk candidates strictly
    preferred to v for u (same tie order as the window), so v cannot be
    in u's global top-k — and the pair still emits if u makes v's list.
    What it changes is VOLUME: all-pairs emission is L·Σ|b|²/2 rows (the
    sf10 probe shuffled ~3.9B candidate rows into distinct+window);
    per-node truncation caps it at L·n·kk (~80M at the same scale).

    Same tiling/normalization/zero-norm discipline as
    _block_pair_scorer; memory is O(tile² + rows·kk) per panel pass.
    """

    def _row_topk(S: "np.ndarray", J: "np.ndarray", k2: int):
        """Per-row top-k2 of (score, id) by (-score, id); S/J are
        (rows × w) score and candidate-id matrices. Returns (rows × k2')
        score/id arrays, -inf/-1 padded via the score sentinel."""
        ti, w = S.shape
        k2 = min(k2, w)
        rows = np.repeat(np.arange(ti), w)
        flat_s = S.ravel()
        flat_j = J.ravel()
        order = np.lexsort((flat_j, -flat_s, rows))
        keep = (np.arange(ti * w) % w) < k2
        sel = order[keep]
        return flat_s[sel].reshape(ti, k2), flat_j[sel].reshape(ti, k2)

    def score_block(key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        ids = g[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = len(ids)
        if m < 2:
            return empty
        V = np.stack(g[vec_col].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        V /= norms
        out_a, out_b, out_s = [], [], []
        for i0 in range(0, m, tile):
            i1 = min(i0 + tile, m)
            ti = i1 - i0
            best_s = np.full((ti, 0), -np.inf)
            best_j = np.full((ti, 0), -1, dtype=np.int64)
            for j0 in range(0, m, tile):
                j1 = min(j0 + tile, m)
                S = np.round(V[i0:i1] @ V[j0:j1].T, 6)
                S[S < threshold] = -np.inf
                # global diagonal (self-pairs): rows i0+r == cols j0+c
                d = np.arange(max(i0, j0), min(i1, j1))
                if len(d):
                    S[d - i0, d - j0] = -np.inf
                ps, pj = _row_topk(
                    S, np.broadcast_to(ids[j0:j1], (ti, j1 - j0)), kk
                )
                best_s, best_j = _row_topk(
                    np.concatenate([best_s, ps], axis=1),
                    np.concatenate([best_j, pj], axis=1),
                    kk,
                )
            src = np.broadcast_to(
                ids[i0:i1, None], best_j.shape
            )
            ok = best_s > -np.inf
            if ok.any():
                u, v, s = src[ok], best_j[ok], best_s[ok]
                out_a.append(np.minimum(u, v))
                out_b.append(np.maximum(u, v))
                out_s.append(s)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_s),
            }
        )

    return score_block


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _LSH_SEED,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means the corpus
    into cells (the IVF coarse quantizer, deterministic sample + seed),
    then score each CELL as one BLAS matmul and keep pairs with cosine ≥
    threshold. The standard semantic-dedup recipe for training corpora —
    duplicates are near-identical vectors, so they land in the same cell
    with overwhelming probability on clustered real-world embeddings
    (recall is test-pinned on a clustered fixture; cross-cell misses are
    the documented approximation, same trade as the published recipe).

    Scale shape: one shuffle keyed by cell; quadratic work confined to
    cell size (n_centroids is the knob — size cells so a block matmul
    fits an executor); centroids ship as closure literals, never joined.
    """
    cent = train_ivf_centroids(
        corpus, n_centroids, train_sample, id_col, vec_col, seed
    )
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _assign_cell_udf(cent)(F.col(vec_col)).alias("__cell"),
    )
    return (
        assigned.groupBy("__cell")
        .applyInPandas(
            _block_pair_scorer(id_col, vec_col, threshold), _PAIR_SCHEMA
        )
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs by embedding cosine ≥ threshold.

    O(n²) self-join — correct baseline; at corpus scale use
    lsh_cosine_pairs (bucketed) instead. Left side broadcast only when the
    caller knows it is small; default is a plain self-join so Catalyst/AQE
    decide.
    """
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 2,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    per_node_topk: int | None = None,
) -> DataFrame:
    """Near-dup pairs with multi-table sign-LSH blocking — the scale path
    replacing cosine_pairs' all-pairs BroadcastNestedLoopJoin.

    Each vector lands in L table-tagged buckets (one shuffle, partitioned
    by bucket id — balanced for random hyperplanes); each bucket is scored
    as a BLOCK by an Arrow-batched applyInPandas doing one BLAS matmul
    (V·Vᵀ over the normalized bucket matrix). distinct() collapses
    multi-table duplicates. The quadratic blowup is confined to bucket
    size; candidate volume ≈ L · Σ_buckets |bucket|², never n².

    Why Pandas here and not Column expressions: per-pair cosine via
    aggregate/zip_with is a higher-order function — interpreted, not
    codegen'd (~50 µs/pair) — while a bucket-level matmul amortizes to
    nanoseconds/pair. This is the one place the built-ins genuinely cannot
    express the efficient shape. At petabyte scale, sub-chunk oversized
    buckets (more planes, or tile the matmul) so a block fits in memory.

    `per_node_topk`: the kNN-graph regime. When the consumer only keeps
    each node's k best neighbors (knn_graph's window), emitting every
    thresholded in-bucket pair is pure waste — L·Σ|b|²/2 rows through
    distinct+window (measured ~3.9B candidate rows at the sf10 probe).
    Per-bucket per-node truncation to the k best co-members (same
    (cosine DESC, id ASC) order as the window) provably preserves the
    downstream top-k graph at L·n·k rows. Leave None for the dedup
    regime, where every pair ≥ threshold IS the output.
    """
    out_schema = _PAIR_SCHEMA
    if per_node_topk is not None:
        score_bucket = _block_topk_scorer(
            id_col, vec_col, threshold, int(per_node_topk)
        )
    else:
        score_bucket = _block_pair_scorer(id_col, vec_col, threshold)

    # bucket ids via the Arrow-vectorized twin: identical geometry to
    # multi_lsh_buckets (same hyperplanes/tags) at ~1 µs/row instead of
    # n_tables·n_planes interpreted HOF dots — the measured sf10
    # knn_clusters build bottleneck (the interpreted form additionally
    # ran at the 2-partition scan's parallelism).
    bucketer = multi_lsh_buckets_vec(dim, n_planes, n_tables)
    withb = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(bucketer(F.col(vec_col))).alias("__bucket"),
    )
    return (
        withb.groupBy("__bucket")
        .applyInPandas(score_bucket, out_schema)
        .distinct()
    )


# --- product quantization (PQ) ----------------------------------------------


def _kmeans_l2(
    X: "np.ndarray", k: int, n_iters: int = 15, seed: int = _LSH_SEED
) -> "np.ndarray":
    """Euclidean Lloyd k-means (seeded, deterministic) — the sub-codebook
    trainer for PQ. Unlike the spherical _kmeans_centroids (IVF coarse
    quantizer over unit vectors), PQ subvectors are NOT unit-norm, so
    centroids must minimize L2 reconstruction error, not cosine."""
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(n_iters):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 64,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _LSH_SEED,
) -> "np.ndarray":
    """Train product-quantization codebooks: split the (unit-normalized)
    vector into `m` contiguous subspaces and learn an independent
    `n_codes`-entry L2 codebook per subspace — the FAISS-style PQ recipe
    [Jegou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011]. Returns shape (m, n_codes_eff, dim/m); n_codes_eff may be
    smaller than n_codes when the sample has fewer distinct subvectors.

    Storage math: m uint8 codes replace dim float32s — 32× smaller at
    dim=64/m=8 (4 m-byte codes vs 256 bytes), which at 100 TB of
    embeddings is the difference between spilling and RAM-resident search.

    Same determinism contract as train_ivf_centroids: the sample is the
    first `train_sample` rows by id (stable), zero-norm vectors dropped,
    seeded init — codebooks are a pure function of (corpus, params).
    """
    if not 1 <= n_codes <= 256:
        raise ValueError(f"n_codes must be in [1, 256], got {n_codes}")
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(train_sample)
        .collect()
    )
    X = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    if X.size == 0:
        raise ValueError("training corpus is empty — cannot train PQ")
    X = X[np.linalg.norm(X, axis=1) > 0]
    if X.shape[0] == 0:
        raise ValueError("no nonzero-norm vectors in the PQ training sample")
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    X = _safe_normalize(X)
    dsub = dim // m
    books = []
    for s in range(m):
        sub = np.ascontiguousarray(X[:, s * dsub : (s + 1) * dsub])
        books.append(_kmeans_l2(sub, n_codes, seed=seed + s))
    # ragged guard: if the sample was smaller than n_codes every book has
    # the same (smaller) size because choice() caps identically
    return np.stack(books)


def pq_encode(
    df: DataFrame,
    codebooks: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Encode each vector as `m` uint8 codes packed into ONE binary cell
    (nearest sub-codebook entry per subspace, after unit normalization).
    Vectorized: one argmin over a (batch × n_codes) distance matrix per
    subspace per Arrow batch; the codebook ships to executors as a
    closure literal (m·n_codes·dsub floats — KBs). `extra_cols` ride
    along in the same narrow projection (e.g. an IVF cell id) so callers
    never need a second corpus-keyed join to re-attach them."""
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = books.shape

    @pandas_udf("binary")
    def enc(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        M = _safe_normalize(M)
        codes = np.empty((len(M), m), dtype=np.uint8)
        for s in range(m):
            sub = M[:, s * dsub : (s + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; ||x||^2 constant per row
            d = -2.0 * (sub @ books[s].T) + (books[s] ** 2).sum(axis=1)[None, :]
            codes[:, s] = np.argmin(d, axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    extras = [F.col(c) for c in (extra_cols or [])]
    return df.select(
        F.col(id_col), *extras, enc(F.col(vec_col)).alias(out_col)
    )


def _adc_udf(books: "np.ndarray"):
    """ADC cosine scorer over PQ codes: per DISTINCT query in the Arrow
    batch, one (m × n_codes) lookup table of subspace dot products; each
    row's score is m table lookups. Shared by the flat-PQ and IVF+PQ
    paths."""
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(books, dtype=np.float64)
    m, _, dsub = books.shape
    n2 = (books**2).sum(axis=2)

    @pandas_udf("double")
    def adc(codes: pd.Series, qid: pd.Series, qv: pd.Series) -> pd.Series:
        C = np.stack(codes.apply(np.frombuffer, dtype=np.uint8))
        out = np.empty(len(C), dtype=np.float64)
        qids = qid.to_numpy()
        for u in pd.unique(qids):
            sel = qids == u
            q = np.asarray(qv[sel].iloc[0], dtype=np.float64)
            qn = np.linalg.norm(q)
            if qn == 0:
                out[sel] = 0.0
                continue
            qsub = q.reshape(m, dsub)
            lut = np.einsum("sd,skd->sk", qsub, books)
            rows = C[sel]
            s_idx = np.arange(m)[None, :]
            dot = lut[s_idx, rows].sum(axis=1)
            xnorm = np.sqrt(n2[s_idx, rows].sum(axis=1))
            xnorm[xnorm == 0] = 1.0
            out[sel] = dot / (xnorm * qn)
        return pd.Series(np.round(out, 6))

    return adc


def _exact_rerank(
    corpus: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Re-score a (query_id, neighbor_id) candidate table exactly against
    the float corpus: candidates broadcast back as a semi-join filter on
    the corpus scan, native-expression cosine on survivors, final top-k
    window. Shared tail of every shortlist-then-rerank search path."""
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    )
    survivors = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).join(F.broadcast(cand.select(query_id_col, "neighbor_id")), "neighbor_id")
    scored = survivors.join(q, query_id_col).select(
        query_id_col,
        "neighbor_id",
        F.round(cosine(F.col("__cvec"), F.col("__qvec")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    k: int = 5,
    codes_col: str = "pq_codes",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, one
    (m × n_codes) lookup table of subspace dot products + squared norms;
    each corpus row's score is m table lookups — no float vector is ever
    rebuilt. cosine(x̂, q) = Σ_s LUT_dot[s, code_s] / (‖x̂‖·‖q‖) with
    ‖x̂‖² = Σ_s LUT_n2[s, code_s].

    Plan shape matches brute_force_topk/quantized_topk: broadcast queries
    against the code table (m bytes/row, 32× narrower than the float
    corpus), one scan, per-query top-k window. The LUT is computed once
    per DISTINCT query per Arrow batch, not per row — the PQ trick that
    makes scan cost independent of dim.
    """
    adc = _adc_udf(codebooks)
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    )
    scored = (
        corpus_codes.select(F.col(id_col), F.col(codes_col))
        .crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            adc(
                F.col(codes_col), F.col(query_id_col), F.col("__qvec")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cosine", "rank")
    )


def pq_topk_rerank(
    corpus: DataFrame,
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    k: int = 5,
    shortlist: int = 50,
    codes_col: str = "pq_codes",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ search the way production systems run it (IVFADC+R): the ADC
    scan over m-byte codes produces a `shortlist`-sized candidate set per
    query, then ONLY those rows are re-scored exactly against the float
    corpus. On this fixture's near-random vectors raw ADC recall@5 is
    ~0.5 (quantization noise reorders close scores — the PQ worst case);
    shortlist=10% of the corpus restores measured recall 1.0 while still
    never scanning float vectors for 90% of rows.

    Plan: ADC scan (codes only, queries broadcast) → candidate table is
    (queries × shortlist) rows — broadcast it back as a semi-join filter
    on the float corpus → exact cosine on the survivors → final top-k
    window. The float corpus is touched once, filtered at the scan by the
    broadcast hash join; nothing corpus-sized shuffles.
    """
    cand = pq_topk(
        corpus_codes, queries, codebooks, k=shortlist,
        codes_col=codes_col, id_col=id_col, query_id_col=query_id_col,
    ).select(query_id_col, "neighbor_id")
    return _exact_rerank(
        corpus, cand, queries, k, id_col, vec_col, query_id_col
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_codes: int = 64,
    shortlist: int = 50,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVFADC — the FAISS-style composition of both pruning axes and the
    100 TB search shape: the IVF coarse quantizer prunes WHICH rows are
    touched (~n_probe/n_centroids of the corpus on balanced cells), PQ
    prunes WHAT each touched row costs (m one-byte table lookups instead
    of a dim-float dot product), and the exact rerank on the shortlist
    buys back ADC's quantization-noise recall.

    One corpus pass computes cell + codes together (pq_encode's
    extra_cols — no second corpus-keyed join); the probe set broadcasts,
    so the only per-query work is the code scan of probed cells, the
    shortlist window, and an exact rescore of `shortlist` rows. The
    float corpus never shuffles; candidate/probe tables are
    queries-sized.
    """
    cent = train_ivf_centroids(
        corpus, n_centroids, train_sample, id_col=id_col, vec_col=vec_col
    )
    books = train_pq_codebooks(
        corpus, m=m, n_codes=n_codes, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col,
    )
    coded = pq_encode(
        corpus.withColumn(
            "__cell", _assign_cell_udf(cent)(F.col(vec_col))
        ),
        books,
        id_col=id_col,
        vec_col=vec_col,
        extra_cols=["__cell"],
    )
    probe = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(
                _probe_cells_udf(cent, n_probe)(F.col(vec_col))
            ).alias("__cell"),
        )
    )
    adc = _adc_udf(books)
    scored = (
        coded.join(probe, "__cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            adc(
                F.col("pq_codes"), F.col(query_id_col), F.col("__qvec")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select(query_id_col, "neighbor_id")
    )
    return _exact_rerank(
        corpus, cand, queries, k, id_col, vec_col, query_id_col
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 64,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = _LSH_SEED,
) -> None:
    """Train and PERSIST an IVFADC index: coarse centroids + PQ
    sub-codebooks + m-byte codes, cell-partitioned — the compressed
    persisted search layout (FAISS IVFPQ on parquet). vs build_ivf_index
    the stored cells shrink from dim·4 bytes (float) or dim bytes (SQ
    int8) to m bytes per vector — at dim 64 / m 16 the index is 16×
    smaller than the float layout, which at 100 TB of embeddings is what
    makes the index fit fast storage at all.

    Layout:
      path/centroids — (cell, centroid array<double>)
      path/codebooks — (sub, code, vec array<double>) — m·n_codes rows
      path/cells     — (vec_id, pq_codes binary, cell) PARTITIONED BY
                       cell → probes read n_probe/n_centroids of the data
      path/meta      — build parameters; probe validates the loaded
                       centroid/codebook shapes and the query (and
                       rerank-corpus) dims against it. A same-dim
                       re-encoded corpus is undetectable from shapes —
                       rebuild the index when the embedding model changes.

    The index stores ONLY codes; exact rerank (the recall-restoring
    tail) reads the float vectors from the ORIGINAL corpus, which stays
    wherever it lives — the index never duplicates it.
    """
    spark = corpus.sparkSession
    cent = train_ivf_centroids(
        corpus, n_centroids, train_sample, id_col, vec_col, seed
    )
    books = train_pq_codebooks(
        corpus, m=m, n_codes=n_codes, train_sample=train_sample,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    dim = int(cent.shape[1])
    spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(cent)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, c, books[s, c].tolist())
            for s in range(books.shape[0])
            for c in range(books.shape[1])
        ],
        "sub int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(dim, int(cent.shape[0]), int(books.shape[0]),
          int(books.shape[1]), train_sample, seed)],
        "dim int, n_centroids int, m int, n_codes int, train_sample int,"
        " seed int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    coded = pq_encode(
        corpus.withColumn("cell", _assign_cell_udf(cent)(F.col(vec_col))),
        books,
        id_col=id_col,
        vec_col=vec_col,
        extra_cols=["cell"],
    )
    coded.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/cells"
    )


def probe_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k against a persisted IVFADC index: centroids + codebooks load
    to the driver (KBs), probed cell PARTITIONS of the m-byte code table
    are the only index IO, scoring is the shared per-distinct-query ADC
    LUT. With `corpus` given, the shortlist reranks exactly against the
    float vectors (recall 1.0-grade results — pinned equal to the
    in-memory ivfpq_topk); without it, ADC scores return directly
    (compressed-only probe: k results whose ranks carry quantization
    noise, the documented trade).

    `allowed` (one-column DataFrame of permitted ids) turns this into
    FILTERED ANN over the compressed index — the semi-join thins the
    probed code scan BEFORE any LUT scoring, exactly as in
    probe_ivf_index, and the rerank shortlist inherits the constraint
    (candidates are drawn from filtered scores, so no excluded id can
    resurface at rerank). Same post-filtered recall caveat: a highly
    selective filter thins probed cells — raise n_probe."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy(
        "cell"
    ).collect()
    cent = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    # Meta is the build's self-description; verify the loaded artifacts
    # actually match it before trusting any score (a partially rebuilt
    # or hand-mixed index directory must fail loudly, not rank wrongly).
    if cent.shape != (meta["n_centroids"], meta["dim"]):
        raise ValueError(
            f"index at {path} is inconsistent: centroids shape "
            f"{cent.shape} != meta (n_centroids={meta['n_centroids']}, "
            f"dim={meta['dim']})"
        )
    book_rows = spark.read.parquet(f"{path}/codebooks").orderBy(
        "sub", "code"
    ).collect()
    if len(book_rows) != meta["m"] * meta["n_codes"]:
        raise ValueError(
            f"index at {path} is inconsistent: {len(book_rows)} codebook "
            f"rows != meta m*n_codes = {meta['m'] * meta['n_codes']}"
        )
    books = np.array([r["vec"] for r in book_rows], dtype=np.float64).reshape(
        meta["m"], meta["n_codes"], meta["dim"] // meta["m"]
    )
    qrow = queries.select(vec_col).first()
    if qrow is None:
        raise ValueError("queries is empty — nothing to probe")
    if len(qrow[0]) != meta["dim"]:
        raise ValueError(
            f"query dim {len(qrow[0])} != index dim {meta['dim']}"
            f" (index at {path})"
        )
    if corpus is not None:
        crow = corpus.select(vec_col).first()
        if crow is not None and len(crow[0]) != meta["dim"]:
            raise ValueError(
                f"rerank corpus dim {len(crow[0])} != index dim "
                f"{meta['dim']} (index at {path}) — same-dim re-encoded "
                "corpora cannot be detected; rebuild the index when the "
                "embedding model changes"
            )
    cells = spark.read.parquet(f"{path}/cells")
    if allowed is not None:
        cells = cells.join(
            allowed.select(F.col(allowed.columns[0]).alias(id_col)),
            id_col,
            "left_semi",
        )
    probe = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(
                _probe_cells_udf(cent, n_probe)(F.col(vec_col))
            ).alias("cell"),
        )
    )
    adc = _adc_udf(books)
    scored = (
        cells.join(probe, "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            adc(
                F.col("pq_codes"), F.col(query_id_col), F.col("__qvec")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    if corpus is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "neighbor_id", "cosine", "rank")
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select(query_id_col, "neighbor_id")
    )
    return _exact_rerank(
        corpus, cand, queries, k, id_col, vec_col, query_id_col
    )


def knn_graph(
    df: DataFrame,
    k: int,
    dim: int,
    n_planes: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = -1.0,
    target_bucket: int = 512,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over an embedding column —
    the edge list graph-based curation is built on (mutual-kNN
    clustering, neighborhood-density quality scores, graph dedup). Each
    node gets up to k outgoing edges to its highest-cosine LSH-bucket
    co-occupants.

    Shape: the multi-table sign-LSH pair machinery (lsh_cosine_pairs —
    bucket-blocked tiled BLAS, candidate volume ≈ L·Σ|bucket|², never
    n²) produces undirected candidate pairs; symmetrize (two directed
    rows per pair — narrow), then ONE WindowGroupLimit per source node
    keeps the top k by (cosine DESC, neighbor ASC). Recall follows the
    LSH parameters: neighbors sharing no bucket in any table are
    invisible — raise n_tables / lower n_planes to trade shuffle volume
    for recall (exhaustive when buckets collapse to one; the pytest pin
    checks exact parity in that regime).

    `min_cosine` bounds the CANDIDATE volume, not just the output: the
    bucket scorer emits every in-bucket pair scoring ≥ min_cosine, and
    only then does the per-node window prune to k. At the default −1
    every in-bucket pair shuffles (fine at audit scale); at 100 TB set a
    meaningful floor (e.g. 0.5 for normalized text embeddings) so the
    pair stream is similarity-thinned before the exchange — neighbors
    below the floor were never going to make a top-k that matters.

    `n_planes=None` (the default) derives the plane count from the
    corpus size so the EXPECTED bucket holds ~`target_bucket` vectors:
    ceil(log2(n / target_bucket)), floored at 0 (single exhaustive
    bucket for tiny corpora). In-bucket work is quadratic — L·Σ|b|² ≈
    L·n²/2^planes — so a FIXED plane count is a scale bug: the sf1
    probe measured the n_planes=2 graph at 31× its sf0.1 time for 10×
    the vectors (5 000-row buckets, ~800M in-bucket dot products); the
    derived count (6 planes at 20k vectors) restores bucket-bounded
    work and ~linear growth. CAVEAT — the derivation costs one EAGER
    count() of the input AT CONSTRUCTION TIME: building the graph
    DataFrame triggers a full Spark job replaying the upstream pipeline
    even if the caller never executes the graph (plan-only inspection,
    deferred pipelines). When the cardinality is already known (catalog
    stats, a prior count, a fixture), pass `n_rows` to derive the plane
    count arithmetic-only and stay fully lazy; or pass an explicit
    `n_planes` int to pin the dial (recall-parity tests use 0 =
    exhaustive).

    Output: (src, dst, cosine, rank) — rank 1..k per src.
    """
    import math

    from pyspark.sql.window import Window as W

    from ..caching import persist_tracked

    if n_planes is None:
        n = int(n_rows) if n_rows is not None else df.count()
        n_planes = max(0, math.ceil(math.log2(max(n, 1) / target_bucket)))

    # the symmetrize-union references the pair table twice; untracked,
    # Spark would replay the WHOLE candidate pipeline (corpus scan + LSH
    # bucketing + bucket matmuls) once per branch — and every downstream
    # self-join on the edge list (LOF's kdist/lrd chain) would multiply
    # it again. Persist the pair-sized table once; session owners
    # release via caching.release_cached()
    pairs = persist_tracked(lsh_cosine_pairs(
        df, float(min_cosine), dim, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col, per_node_topk=int(k),
    ))
    directed = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"),
            F.col("id_a").alias("dst"),
            "cosine",
        )
    )
    w = W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .withColumn("rank", F.col("rank").cast("long"))
    )


def mutual_knn_clusters(
    knn: DataFrame,
) -> DataFrame:
    """Mutual-kNN clustering: keep only RECIPROCATED edges (i in j's
    top-k AND j in i's top-k — the standard density guard: a hub that
    everyone points at but that points elsewhere does not glue clusters
    together), then connected components over the mutual graph.

    Input: a knn_graph edge list (src, dst, ...). Output: (node,
    cluster) for EVERY source node — cluster is the component's minimum
    node id (graph.connected_components' contract, so survivor
    selection / leakage-free splitting compose exactly as with near-dup
    clusters); a node with no reciprocated edge keeps its own id as a
    singleton cluster rather than silently disappearing.

    Shape: the reciprocity check is ONE self-semi-join on the reversed
    key (edge-list-sized, k·n rows); components are the existing
    min-label propagation + pointer jumping; the singleton fill is a
    node-table-sized left join.
    """
    from . import graph as _graph
    from ..caching import persist_tracked

    # The k·n-row edge list is consumed THREE times (both sides of the
    # reciprocity semi-join + the singleton fill at the end) and sits on
    # top of the whole LSH+BLAS+window kNN pipeline — without a persist
    # the final fill re-executes that pipeline after the components
    # finish (exchange reuse only dedups within one job, and the
    # component loop's checkpoints are separate jobs).
    edges = persist_tracked(knn.select("src", "dst"))
    mutual = edges.join(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ),
        ["src", "dst"],
        "left_semi",
    ).filter(F.col("src") < F.col("dst"))
    comps = _graph.connected_components(mutual, src="src", dst="dst")
    labeled = comps.select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("cluster")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    return nodes.join(labeled, "node", "left").select(
        "node", F.coalesce(F.col("cluster"), F.col("node")).alias("cluster")
    )


def vector_health(
    df: DataFrame,
    vec_col: str,
    group_cols: str | list[str] | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Embedding-column QA in one agg pass — the pre-flight every
    vector pipeline should run before building indexes on 100 TB of
    embeddings (a handful of NaN rows silently poisons k-means
    training; mixed dims crash probes late; zero vectors score cosine 0
    against everything and surface as phantom neighbors):

      n_vectors / n_null        rows with/without a vector
      n_dims                    distinct lengths (must be 1)
      dim_min / dim_max         the actual lengths seen
      n_nan                     vectors containing any non-finite value
      n_zero                    all-zero vectors (norm == 0)
      norm_min/avg/max          L2 norm distribution (≈1 everywhere for
                                a normalized corpus)

    Norm/NaN checks are array-side higher-order functions — narrow,
    no UDF; NaN-poisoned norms are EXCLUDED from the norm stats (one
    poisoned row would make norm_avg NaN and hide the rest).

    Output: group cols + the ten columns above, norms rounded.
    """
    gcols = (
        [group_cols] if isinstance(group_cols, str)
        else list(group_cols or [])
    )
    v = F.col(vec_col)
    sq = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    has_bad = F.exists(
        v, lambda x: x.cast("double").isNaN() | (F.abs(x) > F.lit(1e308))
    )
    norm = F.when(v.isNotNull() & ~has_bad, F.sqrt(sq))
    return df.select(
        *gcols,
        v.isNotNull().cast("int").alias("__has"),
        F.when(v.isNotNull(), F.size(v)).alias("__dim"),
        F.when(v.isNotNull() & has_bad, 1).otherwise(0).alias("__nan"),
        F.when(norm == 0.0, 1).otherwise(0).alias("__zero"),
        norm.alias("__norm"),
    ).groupBy(*gcols).agg(
        F.sum("__has").cast("long").alias("n_vectors"),
        F.sum(1 - F.col("__has")).cast("long").alias("n_null"),
        F.count_distinct("__dim").alias("n_dims"),
        F.min("__dim").cast("long").alias("dim_min"),
        F.max("__dim").cast("long").alias("dim_max"),
        F.sum("__nan").cast("long").alias("n_nan"),
        F.sum("__zero").cast("long").alias("n_zero"),
        F.round(F.min("__norm"), ndigits).alias("norm_min"),
        F.round(F.avg("__norm"), ndigits).alias("norm_avg"),
        F.round(F.max("__norm"), ndigits).alias("norm_max"),
    )


def silhouette_score(
    df: DataFrame,
    vec_col: str,
    cluster_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the scale
    answer to "are these clusters real": for each point, a = distance to
    its OWN cluster centroid, b = distance to the NEAREST other
    centroid, s = (b − a) / max(a, b) ∈ [−1, 1].  Well-separated
    clusters score near 1; overlapping ones near 0; mis-assigned points
    go negative.  The full silhouette's per-point mean pairwise
    distances are O(n²) and unusable at scale; the centroid
    simplification (Hruschka et al.'s "simplified silhouette") keeps the
    diagnostic shape at O(n·C) and is the standard large-scale stand-in
    (it is also what Spark MLlib's ClusteringEvaluator computes —
    re-expressed here as pure DataFrame algebra with an exact SQL
    mirror, no MLlib dependency).

    Centroid coordinates are rounded to `ndigits` BEFORE distances so
    the whole computation is engine-reproducible (the per-dimension
    means are the only accumulation-order-sensitive step; rounding
    there makes every downstream distance a pure function of exact
    inputs).  Convention pins: singleton-cluster points score 0 (their
    a = 0 would otherwise fabricate s = 1); a point equidistant at 0
    from two centroids (degenerate duplicate centroids) scores 0 via a
    guarded denominator.  NULL vectors are excluded.  A single-cluster
    input yields NULL mean (no "other" centroid exists — undefined, not
    0).

    Output: (cluster_col, n BIGINT, mean_silhouette) per cluster —
    macro-average downstream for one scalar.

    Shape: centroids via posexplode → IMMEDIATE (cluster, pos) partial
    agg (the pool_embeddings discipline: what shuffles is C×d partial
    sums, never vectors) → C-row centroid table BROADCAST back over a
    ×C nested-loop replication (C clusters, a constant factor) → per-
    point min-distance agg → per-cluster agg.  The corpus never
    hash-partitions; at 100 TB both exchanges carry cluster-sized
    tables.  Fully SQL-expressible → hash-checked vs DuckDB.
    """
    v = _as_double(F.col(vec_col))
    base = df.filter(
        F.col(vec_col).isNotNull() & F.col(cluster_col).isNotNull()
    ).select(
        F.col(cluster_col).alias("__c"),
        v.alias("__v"),
        F.monotonically_increasing_id().alias("__pid"),
    )
    ex = base.select(
        "__c", F.posexplode("__v").alias("__pos", "__x")
    )
    cent = (
        ex.groupBy("__c", "__pos")
        .agg(F.round(F.avg("__x"), ndigits).alias("__a"))
        .groupBy("__c")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__a"))),
                lambda s: s["__a"],
            ).alias("__cent")
        )
    )
    sizes = base.groupBy("__c").agg(F.count(F.lit(1)).alias("__nc"))
    cent = cent.join(sizes, "__c").select(
        F.col("__c").alias("__cc"),
        F.col("__cent"),
        F.col("__nc"),
    )
    crossed = base.crossJoin(F.broadcast(cent))
    diff2 = F.aggregate(
        F.zip_with(
            F.col("__v"), F.col("__cent"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = F.sqrt(diff2)
    own = F.col("__c") == F.col("__cc")
    per_point = crossed.groupBy("__pid", "__c").agg(
        F.min(F.when(own, dist)).alias("__a_d"),
        F.min(F.when(~own, dist)).alias("__b_d"),
        F.max(F.when(own, F.col("__nc"))).alias("__own_n"),
    )
    a_d, b_d = F.col("__a_d"), F.col("__b_d")
    s = (
        F.when(b_d.isNull(), F.lit(None).cast("double"))  # no other cluster
        .when(F.col("__own_n") == 1, 0.0)
        .when(F.greatest(a_d, b_d) == 0.0, 0.0)  # duplicate centroids
        .otherwise((b_d - a_d) / F.greatest(a_d, b_d))
    )
    return per_point.groupBy("__c").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg(s), ndigits).alias("mean_silhouette"),
    ).select(
        F.col("__c").alias(cluster_col), "n", "mean_silhouette"
    )


def centroid_classify(
    train: DataFrame,
    test: DataFrame,
    vec_col: str,
    label_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Nearest-centroid classification (Rocchio) of `test` embeddings
    against class centroids fitted on `train`, reported as a confusion
    matrix — the cheapest embedding-space classifier and the standard
    "are these labels linearly recoverable from the embedding?" probe
    run before spending on a real model head.  Pairs with
    silhouette_score: silhouette asks whether the classes form clusters;
    this asks whether a held-out point lands in the right one.

    Ties (a test point exactly equidistant from two centroids) resolve
    to the SMALLEST class label via a (distance, label) struct-min —
    deterministic across engines, partitionings, and reruns.  Centroid
    coordinates round to `ndigits` before distances (the
    silhouette_score convention: the per-dim means are the only
    accumulation-order-sensitive step).  NULL vectors/labels are
    excluded from both sides.

    Output: (label, predicted, n BIGINT) confusion cells — at most C²
    rows; accuracy is one more tiny agg downstream
    (sum(n where label = predicted) / sum(n)).

    Shape: C-row centroid table from a (class, pos) partial agg on
    TRAIN, broadcast over the ×C replication of TEST, per-point
    struct-min argmin agg, then the confusion agg — the test corpus
    never hash-partitions for the classify step.  Fully SQL-expressible
    → hash-checked vs DuckDB.
    """
    v = _as_double(F.col(vec_col))
    tr = train.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(label_col).alias("__c"), v.alias("__v"))
    te = test.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).alias("__y"),
        v.alias("__v"),
        F.monotonically_increasing_id().alias("__pid"),
    )
    cent = (
        tr.select("__c", F.posexplode("__v").alias("__pos", "__x"))
        .groupBy("__c", "__pos")
        .agg(F.round(F.avg("__x"), ndigits).alias("__a"))
        .groupBy("__c")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__a"))),
                lambda s: s["__a"],
            ).alias("__cent")
        )
        .select(F.col("__c").alias("__cc"), "__cent")
    )
    crossed = te.crossJoin(F.broadcast(cent))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("__v"), F.col("__cent"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    per_point = crossed.groupBy("__pid", "__y").agg(
        F.min(F.struct(F.round(dist, ndigits).alias("d"), F.col("__cc")))
        .alias("__best")
    )
    return (
        per_point.select(
            F.col("__y").alias(label_col),
            F.col("__best.__cc").alias("predicted"),
        )
        .groupBy(label_col, "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def lof_outliers(
    knn: DataFrame,
    ndigits: int = 6,
) -> DataFrame:
    """Local Outlier Factor over a kNN edge list [Breunig 2000] — the
    DENSITY-RELATIVE anomaly score embedding curation wants where a
    global distance cutoff fails: a point is anomalous if its local
    density is low RELATIVE TO ITS NEIGHBORS' densities, so sparse-but-
    uniform regions don't light up and tight clusters still expose
    stragglers.  LOF ≈ 1 → inlier; ≫ 1 → outlier.

    Input: a knn_graph edge list (src, dst, cosine, rank) — distances
    here are cosine DISTANCE d = 1 − cosine.  Definitions over the
    edges present per node (its ≤k neighborhood):

        k_dist(p)      = max_o d(p, o)
        reach(p, o)    = max(k_dist(o), d(p, o))
        lrd(p)         = 1 / (avg_o reach(p, o) + 1e-10)
        lof(p)         = avg_o lrd(o) / lrd(p)

    The 1e-10 floor is sklearn's duplicate-point convention: a node
    whose whole neighborhood is exact duplicates has avg reach 0; the
    floor keeps lrd finite and duplicate clusters score ≈ 1 instead of
    inf/inf.  Exactness tracks the edge list: exhaustive-regime
    knn_graph edges give textbook-exact LOF (pinned vs a pure-python
    reference); LSH-regime edges give the approximate-neighborhood LOF
    — same dial as every consumer of knn_graph.

    Output: (node, k_dist, lrd, lof) rounded — every src node scores.

    Shape: three node-keyed hash joins ON THE EDGE LIST (k·n rows — the
    corpus vectors never reappear) + two partial-combined aggs to the
    node table: kdist join-back (reach), lrd agg, lrd join-back, final
    avg ratio.  Nothing here is quadratic and nothing collects.
    """
    from ..caching import persist_tracked

    d = (F.lit(1.0) - F.col("cosine")).alias("dist")
    # the kdist/lrd chain references the edge list four times; persist
    # the k·n-row table so the caller's (possibly expensive — a full
    # knn_graph build) lineage is computed ONCE, not once per join
    # branch. Session owners release via caching.release_cached().
    edges = persist_tracked(knn.select(F.col("src"), F.col("dst"), d))
    kdist = edges.groupBy("src").agg(F.max("dist").alias("k_dist"))
    # reach(p, o) needs k_dist(o): join edges to the NEIGHBOR's k_dist
    reach = edges.join(
        kdist.select(
            F.col("src").alias("dst"), F.col("k_dist").alias("__kd_o")
        ),
        "dst",
    ).select(
        "src",
        "dst",
        F.greatest(F.col("__kd_o"), F.col("dist")).alias("__reach"),
    )
    lrd = reach.groupBy("src").agg(
        (F.lit(1.0) / (F.avg("__reach") + F.lit(1e-10))).alias("lrd")
    )
    lof = (
        edges.join(
            lrd.select(
                F.col("src").alias("dst"), F.col("lrd").alias("__lrd_o")
            ),
            "dst",
        )
        .groupBy("src")
        .agg(F.avg("__lrd_o").alias("__avg_lrd_o"))
        .join(lrd, "src")
        .join(kdist, "src")
    )
    return lof.select(
        F.col("src").alias("node"),
        F.round(F.col("k_dist"), ndigits).alias("k_dist"),
        F.round(F.col("lrd"), ndigits).alias("lrd"),
        F.round(F.col("__avg_lrd_o") / F.col("lrd"), ndigits).alias("lof"),
    )


def matryoshka_report(
    df: DataFrame,
    vec_col: str,
    prefix_dims: list[int],
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """Prefix-truncation fidelity report — the decision table for
    Matryoshka-style dimension cuts [Kusupati et al. 2022]: before
    shipping a d'-dim index (d'/d of the storage and FLOPs of every ANN
    probe), measure how much the similarity structure moves when vectors
    are truncated to their first d' coordinates.

    Probe pairs are DETERMINISTIC: rows are striped into 16 classes by
    the first hex digit of md5(id) — deterministic for ANY id type
    (a numeric cast would collapse string ids into one NULL stripe) and
    portable to any engine with md5, the sampler discipline — and each
    row pairs with its successor WITHIN its stripe: one 16-way-parallel
    window hop, no sampling RNG, no single-partition global sort (the
    naive orderBy(id) window would serialize the corpus through one task
    at scale). For embedding corpora the stripe pairing is an unbiased
    similarity sample, and reruns/engines see the identical pair set.
    Per prefix d:

        cos_d vs cos_full over the pairs →
        (mean_abs_err, max_abs_err, sign_agree share, mean_cos_full)

    Reading: mean_abs_err ≪ the score gaps your ranking cares about →
    cut is safe; sign_agree < 1 at coarse d warns that even
    same-side/opposite-side structure breaks.

    Shape: ONE window hop pairs each row with its successor (single
    keyed sort exchange), then a narrow per-pair HOF projection per
    prefix (len(prefix_dims) slices of the SAME row — no extra passes)
    and one tiny agg keyed by prefix dim. Fully SQL-expressible →
    hash-checked vs DuckDB (list_dot_product over list slices).

    Output: (dim BIGINT, n_pairs, mean_abs_err, max_abs_err,
    sign_agree, mean_cos_full) sorted by dim.
    """
    from pyspark.sql.window import Window as W

    if not prefix_dims:
        raise ValueError("prefix_dims must be non-empty")
    stripe = F.substring(
        F.md5(F.col(id_col).cast("string")), 1, 1
    ).alias("__s")
    w = W.partitionBy("__s").orderBy(id_col)
    pairs = (
        df.select(
            F.col(id_col), stripe, _as_double(F.col(vec_col)).alias("__v")
        )
        .filter(F.col("__v").isNotNull())
        .select(
            "__v",
            F.lead("__v", 1).over(w).alias("__w"),
        )
        .filter(F.col("__w").isNotNull())
    )
    full = cosine(F.col("__v"), F.col("__w")).alias("__cf")
    per_d = pairs.select(
        full,
        *[
            cosine(
                F.slice(F.col("__v"), 1, int(d)),
                F.slice(F.col("__w"), 1, int(d)),
            ).alias(f"__c{d}")
            for d in prefix_dims
        ],
    )
    stacked = per_d.select(
        "__cf",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(d)).cast("long").alias("dim"),
                        F.col(f"__c{d}").alias("cd"),
                    )
                    for d in prefix_dims
                ]
            )
        ).alias("e"),
    ).select("__cf", "e.dim", "e.cd")
    err = F.abs(F.col("cd") - F.col("__cf"))
    agree = (
        (F.signum(F.col("cd")) == F.signum(F.col("__cf"))).cast("double")
    )
    return (
        stacked.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(err), ndigits).alias("mean_abs_err"),
            F.round(F.max(err), ndigits).alias("max_abs_err"),
            F.round(F.avg(agree), ndigits).alias("sign_agree"),
            F.round(F.avg("__cf"), ndigits).alias("mean_cos_full"),
        )
        .orderBy("dim")
    )


def _water_fill_quotas(counts: dict[int, int], total: int) -> dict[int, int]:
    """Deterministic water-filling: split `total` across cells as evenly
    as cell capacities allow. Cells smaller than the even share keep
    everything; their surplus flows to larger cells. Remainder (from
    integer division) goes +1 at a time to the largest-capacity cells
    (ties broken by cell id) so the result is exactly min(total, Σcap)
    and independent of dict ordering."""
    total = min(int(total), sum(counts.values()))
    quotas = {c: 0 for c in counts}
    remaining = total
    # ascending capacity: small cells saturate first, freeing share
    order = sorted(counts, key=lambda c: (counts[c], c))
    for i, c in enumerate(order):
        share = remaining // (len(order) - i)
        quotas[c] = min(counts[c], share)
        remaining -= quotas[c]
    # distribute the floor remainder to cells with spare capacity,
    # largest capacity first (they flatten least by getting one more)
    spare = sorted(
        (c for c in order if quotas[c] < counts[c]),
        key=lambda c: (-counts[c], c),
    )
    for c in spare:
        if remaining <= 0:
            break
        quotas[c] += 1
        remaining -= 1
    return quotas


def cluster_balanced_sample(
    corpus: DataFrame,
    total: int,
    n_centroids: int = 16,
    train_sample: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced corpus selection (the D4 recipe: SemDeDup-style
    k-means cells, then sample ACROSS cells instead of proportionally):
    uniform sampling over-represents whatever dominates the crawl
    (boilerplate-heavy clusters); sampling an equal quota per embedding
    cell flattens the topic distribution, which is the diversity lever
    the curation papers pull after dedup. Quotas are water-filled
    (_water_fill_quotas), so cells smaller than the even share keep
    every member and the output is exactly min(total, n_valid) rows.

    Within-cell selection is md5-rank deterministic (the repo's sampling
    discipline): reproducible under repartitioning, retries, and
    engine-portable — not an RNG.

    Shape: centroids train on a bounded sample (train_ivf_centroids —
    the standard IVF recipe, distributed trainer above the threshold);
    assignment is one vectorized Arrow matmul scan; per-cell counts are
    ONE K-row agg (the only driver collect — model-sized by
    construction); selection is row_number over (cell, md5) — the only
    corpus-wide exchange, and it carries (id, cell, md5) longs, never
    the vectors. NULL ids/vectors are excluded.

    Returns (id_col, cell) for the selected rows — join back on id for
    payloads (keeps the exchange narrow at 100 TB).
    """
    if total < 1:
        raise ValueError(f"total must be >= 1, got {total}")
    from pyspark.sql.window import Window as W

    valid = corpus.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    cent = train_ivf_centroids(
        valid, n_centroids, train_sample, id_col=id_col, vec_col=vec_col
    )
    assigned = valid.select(
        F.col(id_col),
        _assign_cell_udf(cent)(F.col(vec_col)).alias("cell"),
    )
    counts = {
        r["cell"]: r["n"]
        for r in assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()  # K rows — bounded by n_centroids
    }
    if not counts:
        return assigned.select(id_col, "cell")
    quotas = _water_fill_quotas(counts, total)
    # Hot-cell prefilter (sample_per_group's guard, free here because the
    # per-cell counts are already on the driver): the window partitions
    # by CELL — only K partitions — so without a cut each cell's full
    # membership would sort in one task at 100 TB. Keep only rows whose
    # md5 prefix falls below cap ≈ (4·quota+256)/count BEFORE the
    # exchange: the prefix order is a prefix of the full rank order, so
    # the kept set is downward-closed and the top-quota is IDENTICAL to
    # the unfiltered result as long as ≥ quota rows survive — expected
    # survivors are 4·quota+256 regardless of cell size (undershoot
    # Chernoff-bounded < 1e-100).
    from .sampling import rate_to_hex

    qdf_rows = []
    for c in sorted(quotas):
        q, n = int(quotas[c]), int(counts[c])
        keep = 1.0 if n <= 4 * q + 256 else min(1.0, (4.0 * q + 256.0) / n)
        qdf_rows.append((int(c), q, rate_to_hex(keep)))
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        qdf_rows, "cell int, __quota int, __cap string"
    )
    rank_key = F.md5(F.col(id_col).cast("string"))
    w = W.partitionBy("cell").orderBy(rank_key, F.col(id_col))
    return (
        assigned.join(F.broadcast(qdf), "cell")
        .filter(F.substring(rank_key, 1, 8) < F.col("__cap"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__quota"))
        .select(id_col, "cell")
    )
