"""Round-6 wave-2 operators: blocked edit-distance pairs, native EWMA,
SCD2 compaction, mutual information, weighted PageRank.

Each operator's oracle parity (where SQL-expressible) runs uniformly in
tests/test_oracle_parity.py via SHADOW_ORACLES; this module pins the
semantics pytest-side: hand-built cases, reference implementations
(pandas / NumPy), and the physical-plan promises the docstrings make.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import (
    aggregates,
    graph,
    neardup,
    temporal,
)


# --- levenshtein_pairs -------------------------------------------------------


def test_levenshtein_pairs_basic(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cog"),  # 1 edit
            (3, "the quick brown fox leaps over seven lazy dogs"),  # few edits
            (4, "completely different text with nothing shared"),
            (5, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG  "),  # case/trim dup of 1
        ],
        "doc_id long, text string",
    )
    out = neardup.levenshtein_pairs(
        docs, "text", "doc_id", max_dist=8, prefix_len=12, key_len=48
    ).collect()
    pairs = {(r.id_a, r.id_b): r.dist for r in out}
    assert pairs[(1, 2)] == 1
    assert pairs[(1, 5)] == 0  # normalization makes them identical
    assert pairs[(2, 5)] == 1
    # doc 3 diverges at char 20+ => same block, but distance > 8 from 4 only;
    # vs 1: "jumps over the lazy dog" -> "leaps over seven lazy dogs"
    assert all(d <= 8 for d in pairs.values())
    assert not any(4 in p for p in pairs)


def test_levenshtein_pairs_max_block_drops_viral_prefix(spark):
    rows = [(i, f"common boilerplate opener variant {i}") for i in range(20)]
    rows += [(100, "unique snowflake text aaa"), (101, "unique snowflake text aab")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = neardup.levenshtein_pairs(
        docs, "text", "doc_id", max_dist=10, prefix_len=12, key_len=48,
        max_block=5,
    ).collect()
    ids = {r.id_a for r in out} | {r.id_b for r in out}
    # the 20-doc block exceeds the cap and is dropped entirely;
    # the 2-doc block survives
    assert ids == {100, 101}


# --- ewma --------------------------------------------------------------------


def _ewma_ref(values: list[float], alpha: float) -> list[float]:
    out = []
    for v in values:
        out.append(v if not out else alpha * v + (1 - alpha) * out[-1])
    return out


def test_ewma_matches_sequential_reference(spark):
    rng = np.random.default_rng(7)
    rows = []
    for key in ["a", "b", "c"]:
        for i in range(200):
            rows.append((key, i, float(rng.normal())))
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    out = temporal.ewma(df, "k", "ts", "value", alpha=0.3).toPandas()
    for key, grp in out.groupby("k"):
        grp = grp.sort_values("ts")
        vals = grp["value"].tolist()
        ref = _ewma_ref(vals, 0.3)
        got = grp["ewma"].tolist()
        assert got == pytest.approx([round(r, 6) for r in ref], abs=1e-9)


def test_ewma_tiebreak_orders_equal_timestamps(spark):
    # two rows share ts=1; the tiebreak column must fix the fold order
    df = spark.createDataFrame(
        [("k", 1, 10, 100.0), ("k", 1, 11, 0.0), ("k", 2, 12, 50.0)],
        "k string, ts long, eid long, value double",
    )
    out = (
        temporal.ewma(df, "k", "ts", "value", alpha=0.5, tiebreak_col="eid")
        .orderBy("ts", "eid")
        .collect()
    )
    # order: 100 -> 0.5*0+0.5*100=50 -> 0.5*50+0.5*50=50
    assert [r.ewma for r in out] == [100.0, 50.0, 50.0]


# --- scd2_compress -----------------------------------------------------------


def test_scd2_compress_runs_and_nulls(spark):
    df = spark.createDataFrame(
        [
            ("u", 1, 1, "A"),
            ("u", 2, 2, "A"),   # same run
            ("u", 3, 3, None),  # A -> NULL is a change
            ("u", 4, 4, None),  # NULL -> NULL is not
            ("u", 5, 5, "B"),   # NULL -> B is a change
            ("v", 1, 6, "X"),
        ],
        "k string, ts long, eid long, attr string",
    )
    out = temporal.scd2_compress(df, "k", "ts", "attr", tiebreak_col="eid")
    rows = sorted(
        out.collect(), key=lambda r: (r.k, r.version)
    )
    u = [r for r in rows if r.k == "u"]
    assert [(r.attr, r.valid_from, r.valid_to, r.version) for r in u] == [
        ("A", 1, 3, 1),
        (None, 3, 5, 2),
        ("B", 5, None, 3),
    ]
    assert [r.is_current for r in u] == [False, False, True]
    v = [r for r in rows if r.k == "v"]
    assert len(v) == 1 and v[0].is_current and v[0].version == 1


# --- mutual_information ------------------------------------------------------


def test_mutual_information_independent_is_zero(spark):
    # perfectly independent 2x2 grid, equal masses -> every pmi == 0
    rows = [(x, y) for x in "ab" for y in "cd" for _ in range(25)]
    df = spark.createDataFrame(rows, "x string, y string")
    out = aggregates.mutual_information(df, "x", "y").collect()
    assert len(out) == 4
    assert all(r.pmi == 0.0 and r.mi_contrib == 0.0 for r in out)
    assert all(r.p_xy == 0.25 for r in out)


def test_mutual_information_deterministic_function(spark):
    # y = f(x) (full dependence): MI equals H(X) = log2(2) = 1 bit
    rows = [("a", "c")] * 50 + [("b", "d")] * 50
    df = spark.createDataFrame(rows, "x string, y string")
    out = aggregates.mutual_information(df, "x", "y").collect()
    total = sum(r.mi_contrib for r in out)
    assert total == pytest.approx(1.0, abs=1e-5)


# --- pagerank ----------------------------------------------------------------


def _pagerank_ref(edges, damping, n_iter):
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for u, v, wt in edges:
        w[idx[u], idx[v]] += wt
    out_sum = w.sum(axis=1)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        dangling = 0.0
        for i in range(n):
            if out_sum[i] > 0:
                contrib += rank[i] * w[i] / out_sum[i]
            else:
                dangling += rank[i]
        rank = (1 - damping) / n + damping * (contrib + dangling / n)
    return {nodes[i]: rank[i] for i in range(n)}


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [
        ("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
        ("c", "a", 1.0), ("d", "a", 1.0),  # e is dangling (only a target)
        ("c", "e", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r.node: r.rank
        for r in graph.pagerank(
            df, "src", "dst", weight="w", damping=0.85, n_iter=25
        ).collect()
    }
    ref = _pagerank_ref(edges, 0.85, 25)
    assert set(got) == set(ref)
    for node, r in ref.items():
        assert got[node] == pytest.approx(r, abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_uniform_cycle_is_uniform(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    got = graph.pagerank(df, "src", "dst", weight="w", n_iter=10).collect()
    for r in got:
        assert r.rank == pytest.approx(1 / 3, abs=1e-6)


def test_pagerank_leaves_no_resident_blocks(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().keySet().size()
    graph.pagerank(df, "src", "dst", weight="w", n_iter=3).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().keySet().size()
    # intermediate rounds and the normalized-edge/node base are released;
    # only the final ranks checkpoint (backing the returned frame) may stay.
    assert after - before <= 1


# --- weighted_sample_per_group ----------------------------------------------


def _es_ref(rows, k):
    """Reference Efraimidis-Spirakis selection with the same hash-u."""
    import hashlib

    def key(i, w):
        h = hashlib.md5(f"ws:{i}".encode()).hexdigest()[:13]
        u = (int(h, 16) + 1) / ((1 << 52) + 1)
        return -math.log(u) / w

    keyed = sorted((key(i, w), i) for i, w in rows)
    return [i for _, i in keyed[:k]]


def test_weighted_sample_matches_reference_selection(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(i, float(1 + (i % 7))) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = sorted(
        r.id
        for r in weighted_sample_per_group(df, "id", "w", k=15).collect()
    )
    assert got == sorted(_es_ref(rows, 15))


def test_weighted_sample_huge_weight_always_selected_zero_excluded(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(i, 1.0) for i in range(1, 50)] + [(999, 1e12), (1000, 0.0)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = {r.id for r in weighted_sample_per_group(df, "id", "w", k=5).collect()}
    assert 999 in got  # -ln(u)/1e12 ~ 0: effectively certain selection
    assert 1000 not in got  # zero weight excluded, not silently sampled
    assert len(got) == 5


def test_weighted_sample_partitioning_independent(spark):
    from opendosm_parquet_to_sqlite_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    rows = [(i, "g" + str(i % 3), float(1 + i % 5)) for i in range(1, 200)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    a = sorted(
        (r.g, r.id)
        for r in weighted_sample_per_group(
            df, "id", "w", k=7, group_cols="g"
        ).collect()
    )
    b = sorted(
        (r.g, r.id)
        for r in weighted_sample_per_group(
            df.repartition(13), "id", "w", k=7, group_cols="g"
        ).collect()
    )
    assert a == b
    from collections import Counter

    per_group = Counter(g for g, _ in a)
    assert all(v == 7 for v in per_group.values())


# --- snapshot_diff -----------------------------------------------------------


def test_snapshot_diff_classifies_all_change_types(spark):
    from opendosm_parquet_to_sqlite_spark.operators.diffing import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "id long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0), (5, "e", 50.0)],
        "id long, name string, v double",
    )
    out = {r.id: r.change_type for r in snapshot_diff(old, new, "id").collect()}
    # 1 unchanged (dropped), 2 changed, 3 NULL->value = changed,
    # 4 removed, 5 added
    assert out == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


def test_snapshot_diff_include_unchanged_and_null_null(spark):
    from opendosm_parquet_to_sqlite_spark.operators.diffing import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1, None)], "id long, v double")
    new = spark.createDataFrame([(1, None)], "id long, v double")
    out = snapshot_diff(old, new, "id", include_unchanged=True).collect()
    assert len(out) == 1 and out[0].change_type == "unchanged"


# --- quality_report ----------------------------------------------------------


def test_quality_report_rules(spark):
    from opendosm_parquet_to_sqlite_spark.operators import quality_rules as qr

    df = spark.createDataFrame(
        [
            (1, "x@y.com", 5.0, "A"),
            (2, None, 500.0, "B"),
            (3, "nope", None, "A"),
            (3, "z@w.org", -1.0, "C"),
        ],
        "id long, email string, score double, grade string",
    )
    dim = spark.createDataFrame([("A",), ("B",)], "g string")
    rep = {
        (r.rule, r.col): (r.n_violations, r.n_checked, r.violation_rate)
        for r in qr.quality_report(
            df,
            [
                qr.not_null("email"),
                qr.in_range("score", 0.0, 100.0),
                qr.unique("id"),
                qr.refers_to("grade", dim, "g"),
            ],
        ).collect()
    }
    assert rep[("not_null", "email")][0] == 1
    # NULL score is not a range violation; 500 and -1 are
    assert rep[("in_range[0.0,100.0]", "score")][0] == 2
    assert rep[("unique", "id")][0] == 1  # one duplicated id value
    assert rep[("refers_to", "grade")][0] == 1  # grade C
    assert all(v[1] == 4 for v in rep.values())
    assert rep[("not_null", "email")][2] == 0.25


def test_quality_report_single_pass_plan(spark):
    # all row-level rules + unique must compile into ONE aggregate over
    # one scan: exactly one Exchange (the 1-row final agg), no joins
    from opendosm_parquet_to_sqlite_spark.operators import quality_rules as qr

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    rep = qr.quality_report(
        df, [qr.not_null("v"), qr.in_range("v", 0, 5), qr.unique("v")]
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("FileScan") <= 1


# --- interval_overlap_join ---------------------------------------------------


def test_interval_overlap_join_matches_theta_join(spark):
    import random

    rng = random.Random(11)
    A = [("k" + str(rng.randint(0, 2)), i, rng.randint(0, 5000)) for i in range(80)]
    B = [("k" + str(rng.randint(0, 2)), i, rng.randint(0, 5000)) for i in range(80)]
    a = spark.createDataFrame(
        [(k, i, s, s + rng.randint(0, 800)) for k, i, s in A],
        "k string, a_id long, a_s long, a_e long",
    )
    b = spark.createDataFrame(
        [(k, i, s, s + rng.randint(0, 400)) for k, i, s in B],
        "k string, b_id long, b_s long, b_e long",
    )
    got = sorted(
        (r.k, r.a_id, r.b_id)
        for r in temporal.interval_overlap_join(
            a, b, ["k"], "a_s", "a_e", "b_s", "b_e",
            bin_width=500, payload_left=["a_id"], payload_right=["b_id"],
        ).collect()
    )
    ref = sorted(
        (r.k, r.a_id, r.b_id)
        for r in a.join(b, "k")
        .filter((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .collect()
    )
    assert got == ref
    assert len(got) == len(set(got))  # pair-once: no bin duplicates


def test_interval_overlap_touching_endpoints_inclusive(spark):
    a = spark.createDataFrame([("k", 1, 0, 100)], "k string, a_id long, a_s long, a_e long")
    b = spark.createDataFrame(
        [("k", 1, 100, 200), ("k", 2, 101, 200)],
        "k string, b_id long, b_s long, b_e long",
    )
    got = {
        r.b_id
        for r in temporal.interval_overlap_join(
            a, b, ["k"], "a_s", "a_e", "b_s", "b_e",
            bin_width=50, payload_left=["a_id"], payload_right=["b_id"],
        ).collect()
    }
    assert got == {1}  # closed intervals touch at 100; 101 misses


# --- quantile_normalize ------------------------------------------------------


def test_quantile_normalize_ranks_and_nulls(spark):
    from opendosm_parquet_to_sqlite_spark.operators.features import (
        quantile_normalize,
    )

    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 20.0), ("g", 3, 20.0), ("g", 4, 40.0),
         ("g", 5, None), ("h", 6, 7.0)],
        "g string, id long, v double",
    )
    out = {r.id: r.v_qnorm for r in quantile_normalize(df, "v", "g").collect()}
    assert out[1] == 0.0
    assert out[2] == out[3] == pytest.approx(1 / 3, abs=1e-6)  # tied rank
    assert out[4] == 1.0
    assert out[5] is None  # NULL stays NULL, does not shift real ranks
    assert out[6] == 0.0  # singleton group
    assert len(out) == 6  # nothing dropped


# --- canonicalize_url / dedup_urls -------------------------------------------


def test_canonicalize_url_rules(spark):
    from opendosm_parquet_to_sqlite_spark.operators.web import (
        canonicalize_url,
    )

    cases = [
        ("https://WWW.Example.com/A/B/", "example.com/A/B"),
        ("http://example.com/A/B", "example.com/A/B"),
        ("https://example.com/p?utm_source=x&b=2&a=1", "example.com/p?a=1&b=2"),
        ("https://example.com/p?b=2&a=1", "example.com/p?a=1&b=2"),
        ("https://example.com/p?utm_campaign=z&fbclid=1&ref=t", "example.com/p"),
        ("example.com/p", "example.com/p"),        # scheme-less passthrough
        ("https://example.com/", "example.com"),
        (None, ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r.i: r.c
        for r in df.select(
            "i", canonicalize_url(F.col("u")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_dedup_urls_merges_spelling_variants(spark):
    from opendosm_parquet_to_sqlite_spark.operators.web import dedup_urls

    df = spark.createDataFrame(
        [
            (1, "https://WWW.Example.com/p/"),
            (2, "http://example.com/p?utm_source=x"),
            (3, "https://example.com/p"),
            (4, "https://example.com/q"),
        ],
        "id long, url string",
    )
    out = {
        r.canonical_url: (r.survivor_id, r.n_variants)
        for r in dedup_urls(df, "url", "id").collect()
    }
    assert out["example.com/p"] == (1, 3)
    assert out["example.com/q"] == (4, 1)


# --- skew_report / attribute_last_touch --------------------------------------


def test_skew_report_uniform_and_dominated(spark):
    from opendosm_parquet_to_sqlite_spark.operators.skew import skew_report

    uniform = spark.createDataFrame(
        [(k, i) for k in range(10) for i in range(5)], "k long, i long"
    )
    r = skew_report(uniform, "k").first()
    assert r.n_rows == 50 and r.n_keys == 10
    assert r.max_share == 0.1
    assert r.gini == pytest.approx(0.0, abs=1e-6)

    hot = spark.createDataFrame(
        [(0, i) for i in range(91)] + [(k, 0) for k in range(1, 10)],
        "k long, i long",
    )
    r = skew_report(hot, "k").first()
    assert r.n_rows == 100 and r.max_share == 0.91
    assert r.gini > 0.8


def test_attribute_last_touch_semantics(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        attribute_last_touch,
    )

    rows = [
        # u1: click(10) -> purchase(20) attributed; click(30),
        # purchase(100000) outside 1000s lookback -> NULL
        (1, 10, "click", 100),
        (1, 20, "purchase", 101),
        (1, 30, "click", 102),
        (1, 100000, "purchase", 103),
        # u2: purchase with NO preceding click -> NULL; a click AFTER
        # the purchase must never attribute backwards
        (2, 5, "purchase", 200),
        (2, 6, "click", 201),
        # u3: two clicks -> LAST one wins
        (3, 1, "click", 300),
        (3, 2, "click", 301),
        (3, 3, "purchase", 302),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, s long, event_type string, event_id long"
    )
    out = {
        r.conversion_id: (r.touch_id, r.delay_s)
        for r in attribute_last_touch(
            df, "user_id", "s", "event_type",
            conversion_event="purchase", touch_event="click",
            lookback_seconds=1000, id_col="event_id",
            ts_seconds=F.col("s"),
        ).collect()
    }
    assert out[101] == (100, 10)
    assert out[103] == (None, None)  # click too old
    assert out[200] == (None, None)  # future click never credits
    assert out[302] == (301, 1)      # last touch, not first


def test_attribute_first_touch_semantics(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        attribute_first_touch,
    )

    rows = [
        # u1: clicks at 10 and 15 before purchase(20): FIRST (10) wins
        (1, 10, "click", 100),
        (1, 15, "click", 101),
        (1, 20, "purchase", 102),
        # u1 second purchase at 2000: click 10/15 outside 1000s? 2000-1000
        # = 1000 <= 10? no -> outside; NULL
        (1, 3000, "purchase", 103),
        # u2: click exactly at the conversion second is excluded (frame
        # ends at -1)
        (2, 5, "click", 200),
        (2, 5, "purchase", 201),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, s long, event_type string, event_id long"
    )
    out = {
        r.conversion_id: (r.touch_id, r.delay_s)
        for r in attribute_first_touch(
            df, "user_id", "s", "event_type",
            conversion_event="purchase", touch_event="click",
            lookback_seconds=1000, id_col="event_id",
            ts_seconds=F.col("s"),
        ).collect()
    }
    assert out[102] == (100, 10)     # first touch, not last
    assert out[103] == (None, None)  # outside lookback
    assert out[201] == (None, None)  # same-second touch excluded
