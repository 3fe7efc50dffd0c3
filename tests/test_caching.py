"""Tracked-persist release valve: operator-internal persists must be
releasable by session owners (long-lived sessions would otherwise
accumulate cached blocks until LRU pressure degrades other cached data)."""

from __future__ import annotations

import pytest

from opendosm_parquet_to_sqlite_spark.caching import release_cached
from opendosm_parquet_to_sqlite_spark.operators.neardup import (
    ngram_jaccard_pairs,
)

from .conftest import SF0001

pytestmark = pytest.mark.product


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _sweep_all_cached(spark) -> None:
    """Blocking-unpersist EVERYTHING in the JVM persistent-RDD registry.

    Tests that count cached blocks need a deterministic floor:
    connected_components legitimately leaves one resident localCheckpoint
    block set per call (the returned labels are backed by it — see
    operators/graph.py), and the ContextCleaner reaps those ASYNCHRONOUSLY
    once the DataFrames are garbage-collected, so a point-in-time baseline
    races against background cleanup. A forced sweep does not.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist(True)


def test_release_cached_frees_operator_persists(spark):
    release_cached()  # drop tracked handles from other tests
    _sweep_all_cached(spark)  # deterministic clean slate (see docstring)
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    # the capped path persists the shingle DAG internally
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=50
    )
    pairs.count()
    assert _n_cached(spark) >= 1
    assert release_cached() >= 1
    assert _n_cached(spark) == 0
    # idempotent: nothing tracked after a release
    assert release_cached() == 0


def test_released_result_recomputes_correctly(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, max_doc_freq=50
    )
    before = pairs.count()
    release_cached()
    # the cache is a hint, not a correctness dependency: the same lazy
    # plan re-executes from lineage after release
    assert pairs.count() == before


def test_released_loop_result_fails_fast_not_wrong(spark):
    """Round-14 contract pin (round-13 verdict item 8 / ADVICE item 1):
    a DataFrame returned by an iterative operator is backed by loop-final
    localCheckpoint blocks that release_cached() frees via a
    _BlockReleaser. Unlike a plain persist, those blocks CANNOT be
    recomputed — the documented behavior is consume-then-release, and a
    re-execution after release must FAIL (checkpoint block lookup error),
    never silently return wrong/partial data."""
    import pytest

    from opendosm_parquet_to_sqlite_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = connected_components(edges, "id_a", "id_b")
    rows = {(r.doc_id, r.cluster_id) for r in comp.collect()}  # consume
    assert rows == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert release_cached() >= 1
    with pytest.raises(Exception) as exc:
        comp.collect()  # re-execution after release: documented failure
    msg = str(exc.value).lower()
    assert "block" in msg or "checkpoint" in msg, msg
