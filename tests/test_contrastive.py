"""Pins for operators/contrastive.py — the pair-building layer: negative
sampling determinism + exclusion contracts, hard-negative mining on a
hand-built graph, preference-pair tie-breaks and margin gates."""

from __future__ import annotations

from opendosm_parquet_to_sqlite_spark.operators import contrastive


def _corpus(spark, n=40, n_clusters=5, parts=1):
    rows = [(i, i % n_clusters) for i in range(n)]
    return spark.createDataFrame(rows, "id long, cluster long").repartition(
        parts
    )


def test_negative_samples_contracts(spark):
    df = _corpus(spark)
    out = contrastive.negative_samples(
        df, "id", "cluster", k=4, pool_size=16
    ).collect()
    per_anchor = {}
    for r in out:
        assert r["negative_cluster"] != r["anchor_cluster"]
        per_anchor.setdefault(r["anchor_id"], set()).add(r["negative_id"])
    assert set(per_anchor) == set(range(40))  # every anchor served
    assert all(len(v) <= 4 for v in per_anchor.values())
    # negatives come from the pool only (pool is a fixed 16-row subset)
    all_negs = set().union(*per_anchor.values())
    assert len(all_negs) <= 16


def test_negative_samples_deterministic_across_partitionings(spark):
    a = contrastive.negative_samples(
        _corpus(spark, parts=1), "id", "cluster", k=3, pool_size=16
    ).collect()
    b = contrastive.negative_samples(
        _corpus(spark, parts=8), "id", "cluster", k=3, pool_size=16
    ).collect()
    key = lambda r: (r["anchor_id"], r["negative_id"])  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_negative_samples_giant_cluster_underserved_not_wrong(spark):
    # one cluster owns ids 0..30; pool of 8 may be mostly that cluster —
    # its OWN anchors must still never draw from it
    rows = [(i, 0) for i in range(31)] + [(i, 1) for i in range(31, 34)]
    df = spark.createDataFrame(rows, "id long, cluster long")
    out = contrastive.negative_samples(df, "id", "cluster", k=5, pool_size=8)
    for r in out.collect():
        assert r["negative_cluster"] != r["anchor_cluster"]


def test_hard_negatives_top_cross_cluster_by_cosine(spark):
    knn = spark.createDataFrame(
        [
            # anchor 1 (cluster A): best neighbor same-cluster, then two cross
            (1, 2, 0.99, 1), (1, 10, 0.90, 2), (1, 11, 0.80, 3), (1, 12, 0.70, 4),
            # anchor 10 (cluster B): all neighbors cross-cluster
            (10, 1, 0.95, 1), (10, 2, 0.94, 2), (10, 3, 0.93, 3),
        ],
        "src long, dst long, cosine double, rank long",
    )
    clusters = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (10, 200), (11, 200), (12, 200)],
        "node long, cluster long",
    )
    out = {(r["anchor_id"], r["rank"]): r["negative_id"]
           for r in contrastive.hard_negatives(knn, clusters, k=2).collect()}
    # same-cluster 2 is skipped; hardest cross first
    assert out[(1, 1)] == 10 and out[(1, 2)] == 11
    assert out[(10, 1)] == 1 and out[(10, 2)] == 2


def test_preference_pairs_ties_margin_and_singletons(spark):
    df = spark.createDataFrame(
        [
            ("g1", 1, 5.0), ("g1", 2, 5.0), ("g1", 3, 1.0), ("g1", 4, 1.0),
            ("g_flat", 5, 2.0), ("g_flat", 6, 2.0),   # margin 0 -> dropped
            ("g_single", 7, 9.0),                      # n < 2 -> dropped
        ],
        "g string, id long, score double",
    )
    rows = contrastive.preference_pairs(df, "g", "id", "score").collect()
    assert len(rows) == 1
    r = rows[0]
    # ties break to the LOWER id on both ends
    assert r["chosen_id"] == 1 and r["rejected_id"] == 3
    assert r["margin"] == 4.0


def test_preference_pairs_string_ids(spark):
    # string ids (natural for document/sample ids in DPO prep) must
    # work: the r7 tie-break negated the id, crashing with
    # CAST_INVALID_INPUT under ANSI mode. Ties still break low.
    df = spark.createDataFrame(
        [("g", "doc_b", 5.0), ("g", "doc_a", 5.0), ("g", "doc_c", 1.0),
         ("g", "doc_d", 1.0)],
        "g string, id string, score double",
    )
    rows = contrastive.preference_pairs(df, "g", "id", "score").collect()
    assert len(rows) == 1
    assert rows[0]["chosen_id"] == "doc_a"
    assert rows[0]["rejected_id"] == "doc_c"


def test_preference_pairs_min_margin_gate(spark):
    df = spark.createDataFrame(
        [("g", 1, 1.0), ("g", 2, 1.5)], "g string, id long, score double"
    )
    assert contrastive.preference_pairs(
        df, "g", "id", "score", min_margin=1.0
    ).isEmpty()
    assert not contrastive.preference_pairs(
        df, "g", "id", "score", min_margin=0.4
    ).isEmpty()


def test_preference_pairs_single_partial_agg_plan(spark):
    from .plan_audit import plan_report

    df = spark.createDataFrame(
        [("g", i, float(i % 7)) for i in range(50)],
        "g string, id long, score double",
    )
    rep = plan_report(contrastive.preference_pairs(df, "g", "id", "score"))
    assert rep["n_exchanges"] == 1 and not rep["has_python_udf"]
