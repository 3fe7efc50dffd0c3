"""Embedding dimensionality reduction: distributed PCA (north-star M5 —
embedding-table hygiene at corpus scale).

Shrinking `array<float>` embedding columns is standard pipeline work before
clustering / ANN indexing / near-dup sweeps: a 64->8 PCA cuts every
downstream shuffle and BLAS pass ~8x.

Scale design — PCA via the method of moments, never the data matrix:
the fit collects exactly (1 + d + d*d) doubles to the driver — count,
per-dimension sums, and the Gram matrix X^T X — accumulated per Arrow
batch with one BLAS syrk-shaped matmul inside mapInPandas, then reduced by
an element-wise Spark aggregation (the partial rows are (d + d*d)-long
arrays; posexplode + groupBy(pos) keeps the reduce distributed and
map-side combined). Covariance, eigendecomposition, and component
selection happen on the d x d matrix driver-side (d is embedding width —
64..4096 — never corpus-sized). Projection is one narrow vectorized
pandas_udf matmul per batch. Nothing corpus-sized ever reaches the driver
and the corpus is never shuffled.

Determinism: partial-sum ORDER varies with partitioning, so covariance
entries wobble at the 1e-15 level and eigenvectors inherit that (plus a
sign ambiguity, fixed by forcing each component's largest-|coordinate|
positive). Results are therefore reproducible to float-dust tolerance,
not bit-exact — the registry entry is rows-only and pytest pins closeness
to a NumPy oracle instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_moments(df: DataFrame, vec_col: str) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, sum_vec[d], gram[d,d]) over all rows — one pass, one matmul per
    Arrow batch, one distributed element-wise reduce."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError("embedding frame is empty — nothing to fit")
    d = len(first[0])

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            X = np.stack(b[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64)))
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    # one flat array: [sum_0..sum_{d-1}, gram_00, gram_01, ...]
                    "moments": [
                        np.concatenate([X.sum(axis=0), (X.T @ X).ravel()]).tolist()
                    ],
                }
            )

    part = df.select(vec_col).mapInPandas(
        partials, schema="n long, moments array<double>"
    )
    n_total = part.agg(F.sum("n")).collect()[0][0]
    summed = (
        part.select(F.posexplode("moments").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    flat = np.zeros(d + d * d)
    for r in summed:
        flat[r["pos"]] = r["v"]
    return int(n_total), flat[:d], flat[d:].reshape(d, d)


def pca_fit(
    df: DataFrame, vec_col: str, r: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit top-r principal components. Returns (components[r,d], mean[d],
    explained_variance[r] descending)."""
    n, s, gram = gram_moments(df, vec_col)
    if n < 2:
        raise ValueError(f"need at least 2 rows to fit PCA, got {n}")
    mean = s / n
    cov = (gram - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:r]
    comps = evecs[:, order].T
    # sign convention: largest-|coordinate| of each component is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mean, np.maximum(evals[order], 0.0)


def project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    components: np.ndarray,
    mean: np.ndarray | None = None,
    out_col: str = "proj",
) -> DataFrame:
    """(id, out_col: array<double> len r) — centered matmul per Arrow
    batch; the (r x d) component matrix ships inside the serialized UDF."""
    W = np.ascontiguousarray(components, dtype=np.float64)
    mu = np.zeros(W.shape[1]) if mean is None else np.asarray(mean, np.float64)

    @F.pandas_udf("array<double>")
    def proj(vs: pd.Series) -> pd.Series:
        X = np.stack(vs.apply(lambda v: np.asarray(v, dtype=np.float64)))
        return pd.Series(list((X - mu) @ W.T))

    return df.select(F.col(id_col), proj(F.col(vec_col)).alias(out_col))


def pca_project(
    df: DataFrame, id_col: str, vec_col: str, r: int, out_col: str = "proj"
) -> DataFrame:
    """Fit + project in one call (two corpus passes: moments, matmul)."""
    comps, mean, _ = pca_fit(df, vec_col, r)
    return project(df, id_col, vec_col, comps, mean, out_col)


def embedding_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
    group_cols: str | list[str] | None = None,
) -> DataFrame:
    """Embedding-distribution drift between two slices: per group, the
    cosine similarity of the slice MEAN vectors plus their norms and
    counts — the vector complement to the scalar PSI report
    (operators.features.psi_drift). Mean-direction movement is the
    cheap, mergeable first moment of embedding drift: it catches
    encoder-version skew, topic shift, and pipeline bugs (a re-encoded
    shard pointing somewhere new) without any pairwise work.

    Output per group: cos_means (6 dp; NULL when either mean is the
    zero vector), norm_a/norm_b (mean-vector norms, 6 dp), n_a/n_b.
    Reading: cos_means ≈ 1 stable; the discriminating threshold depends
    on dim and corpus — calibrate on known-good slices (at dim 64,
    independent random slices of the same distribution sit ≥ ~0.9;
    disjoint topics near 0).

    Shape: per slice, ONE posexplode → (group, dim-index) partial-
    combined avg — the exchange carries group·dim rows (dim-sized, not
    corpus-sized); the dim-indexed mean tables join and fold to cosine
    natively. Embeddings themselves never shuffle. Fully
    SQL-expressible → hash-checked vs DuckDB (plans.queries).
    """
    groups: list[str]
    if group_cols is None:
        groups = []
    elif isinstance(group_cols, str):
        groups = [group_cols]
    else:
        groups = list(group_cols)

    def _mean_by_dim(df: DataFrame, tag: str) -> DataFrame:
        e = df.select(
            *groups, F.posexplode(F.col(vec_col)).alias("__i", "__x")
        )
        return e.groupBy(*groups, "__i").agg(
            F.avg("__x").alias(f"__m_{tag}"),
            F.count(F.lit(1)).alias(f"__n_{tag}"),
        )
    ma = _mean_by_dim(df_a, "a")
    mb = _mean_by_dim(df_b, "b")
    j = ma.join(mb, [*groups, "__i"])
    dot = F.sum(F.col("__m_a") * F.col("__m_b"))
    na = F.sqrt(F.sum(F.col("__m_a") * F.col("__m_a")))
    nb = F.sqrt(F.sum(F.col("__m_b") * F.col("__m_b")))
    return j.groupBy(*groups).agg(
        F.round(
            F.when((na > 0) & (nb > 0), dot / (na * nb)), 6
        ).alias("cos_means"),
        F.round(na, 6).alias("norm_a"),
        F.round(nb, 6).alias("norm_b"),
        F.max("__n_a").alias("n_a"),
        F.max("__n_b").alias("n_b"),
    )


def pool_embeddings(
    df: DataFrame,
    vec_col: str,
    group_cols: str | list[str],
    ndigits: int = 6,
) -> DataFrame:
    """Mean-pool embedding vectors per group — the chunk→document (or
    doc→domain-centroid) aggregation every retrieval pipeline runs after
    chunk-level embedding: pooled[i] = avg over the group of vec[i].

    Shape: posexplode to (group, pos, value) rows feeding an IMMEDIATE
    partial-combined agg — the explode multiplies rows ×d inside the map
    stage only; what shuffles is groups×d partial sums, never the n×d
    value stream. (The no-explode alternative — collect_list of whole
    vectors per group — materializes every member vector in one
    aggregation buffer: memory-unsafe for hot groups at 100 TB.) The
    pooled array reassembles from the group×d table by sorting the
    (pos, avg) structs array-side.

    Ragged inputs pool positionally (a short vector contributes to fewer
    positions) and `dim` reports the group's max length, so mixed-model
    groups are visible rather than silently wrong.

    Output: group cols + (n_vecs BIGINT, dim INT, pooled array<double>
    with elements rounded to `ndigits`).
    """
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    ex = df.filter(F.col(vec_col).isNotNull()).select(
        *gcols,
        F.posexplode(F.col(vec_col)).alias("__pos", "__v"),
    )
    per_pos = ex.groupBy(*gcols, "__pos").agg(
        F.round(F.avg("__v"), ndigits).alias("__a"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_pos.groupBy(*gcols)
        .agg(
            F.max("__n").alias("n_vecs"),
            (F.max("__pos") + 1).cast("int").alias("dim"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__a"))),
                lambda s: s["__a"],
            ).alias("pooled"),
        )
    )
