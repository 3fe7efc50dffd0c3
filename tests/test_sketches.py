"""Error-bound tests for the sketch aggregates (rows-only in the driver
gate — their accuracy contract is pinned here instead)."""

from __future__ import annotations

from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import aggregates
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import SF0001


def test_sketch_distinct_within_error_bound(spark):
    ev = load_table(spark, SF0001, "events")
    approx = {
        r["event_type"]: r["approx_distinct"]
        for r in aggregates.sketch_distinct(ev, ["event_type"], "user_id",
                                            rsd=0.02).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(0.06 * exact[k], 2)  # ~3·rsd


def test_sketch_quantiles_rank_error(spark):
    ev = load_table(spark, SF0001, "events")
    rows = aggregates.sketch_quantiles(
        ev, ["event_type"], "value", probs=(0.5, 0.95), accuracy=10_000
    ).collect()
    # one row per (group, prob) — no array columns in the output
    approx = {(r["event_type"], r["prob"]): r["value"] for r in rows}
    etypes = {k[0] for k in approx}
    assert all((e, p) in approx for e in etypes for p in (0.5, 0.95))
    # verify each approx quantile's actual rank is within 1% of its target
    for (etype, target), q in approx.items():
        sub = ev.filter(F.col("event_type") == etype)
        n = sub.count()
        rank = sub.filter(F.col("value") <= q).count() / n
        assert abs(rank - target) <= 0.01 + 1.0 / n


def test_session_agg_merges_at_gap_boundary(spark):
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0)),
        (1, datetime(2024, 1, 1, 10, 30, 0)),   # exactly the gap → merges
        (1, datetime(2024, 1, 1, 11, 0, 1)),    # 1s past the gap → new
        (2, datetime(2024, 1, 1, 9, 0, 0)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in aggregates.session_agg(df, "ts", ["user_id"], "30 minutes").collect()
    )
    assert out == [
        (1, "2024-01-01 10:00:00", 2),
        (1, "2024-01-01 11:00:01", 1),
        (2, "2024-01-01 09:00:00", 1),
    ]


# --- Misra-Gries heavy hitters -----------------------------------------------


def _zipf_items(n, seed=5):
    import numpy as np

    rng = np.random.default_rng(seed)
    return [f"w{int(z)}" for z in rng.zipf(1.6, size=n) if z < 5000]


def test_mg_exact_when_capacity_covers_universe(spark):
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        heavy_hitters_mg,
    )
    from collections import Counter

    items = _zipf_items(5000)
    df = spark.createDataFrame([(w,) for w in items], "w string")
    got = [
        (r.item, r.est_count)
        for r in heavy_hitters_mg(df, "w", k=20, capacity=100000).collect()
    ]
    true = Counter(items)
    want = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want  # exact counts AND exact deterministic order


def test_mg_bounds_and_survival_at_small_capacity(spark):
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        heavy_hitters_mg,
    )
    from collections import Counter

    items = _zipf_items(20000)
    n = len(items)
    cap = 64
    df = spark.createDataFrame([(w,) for w in items], "w string").repartition(8)
    # pull the FULL merged summary (k large) to check the guarantees
    got = {
        r.item: r.est_count
        for r in heavy_hitters_mg(df, "w", k=10**6, capacity=cap).collect()
    }
    true = Counter(items)
    bound = n / (cap + 1)
    for item, est in got.items():
        assert est <= true[item]  # MG never overcounts
        assert true[item] - est <= bound + 1e-9
    # survival: every item heavier than the bound is present
    for item, cnt in true.items():
        if cnt > bound:
            assert item in got, (item, cnt, bound)


def test_mg_null_and_empty(spark):
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        heavy_hitters_mg,
    )

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",)], "w string"
    )
    got = [(r.item, r.est_count) for r in heavy_hitters_mg(df, "w", 5).collect()]
    assert got == [("a", 2), ("b", 1)]  # NULLs never become an item
    empty = spark.createDataFrame([], "w string")
    assert heavy_hitters_mg(empty, "w", 5).count() == 0


# --- count-min sketch --------------------------------------------------------


def _cm_true_counts(rows):
    from collections import Counter

    return Counter(r for r in rows if r is not None)


def test_cm_overcount_only_and_bounded(spark):
    """One-sided error: est >= true always; est - true <= N*e/width for
    the standard CM guarantee (checked with slack=1 failure allowance at
    depth 4 — the bound is probabilistic per item, deterministic here
    because the fixture and seed are pinned)."""
    import math
    import random

    rng = random.Random(7)
    # adversarial sizing: 400-item universe vs 64 buckets forces collisions
    items = [f"it{rng.randint(0, 399)}" for _ in range(5000)]
    df = spark.createDataFrame([(i,) for i in items], "item string")
    width, depth = 64, 4
    sketch = aggregates.cm_build(df, "item", width=width, depth=depth)
    probe = df.select("item").distinct()
    est = {
        r.item: r.est
        for r in aggregates.cm_estimate(
            sketch, probe, "item", width=width, depth=depth
        ).collect()
    }
    true = _cm_true_counts(items)
    n = len(items)
    bound = n * math.e / width
    violations = 0
    for item, t in true.items():
        assert est[item] >= t  # NEVER undercounts
        if est[item] - t > bound:
            violations += 1
    # P[overshoot > eN] <= e^-depth ~= 1.8% per item; allow a few
    assert violations <= max(2, int(0.05 * len(true)))


def test_cm_absent_item_estimates_from_cells(spark):
    """An item never inserted estimates min over its cells — usually 0
    at generous widths, never negative, and still >= its true count (0)."""
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "item string")
    sketch = aggregates.cm_build(df, "item", width=1024, depth=4)
    probe = spark.createDataFrame([("zzz",)], "item string")
    [r] = aggregates.cm_estimate(
        sketch, probe, "item", width=1024, depth=4
    ).collect()
    assert r.est >= 0


def test_cm_weighted_build(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 1), ("a", 5)], "item string, w long"
    )
    sketch = aggregates.cm_build(
        df, "item", width=1024, depth=4, weight_col="w"
    )
    probe = spark.createDataFrame([("a",), ("b",)], "item string")
    est = {
        r.item: r.est
        for r in aggregates.cm_estimate(
            sketch, probe, "item", width=1024, depth=4
        ).collect()
    }
    assert est["a"] == 15 and est["b"] == 1


def test_rolling_distinct_hll_tracks_exact(spark):
    """HLL daily + 7-day rolling estimates within the published ~2%
    envelope (x3 slack) of exact recomputation on the fixture."""
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        rolling_distinct_hll,
    )

    ev = load_table(spark, SF0001, "events")
    got = rolling_distinct_hll(ev, "ts", "user_id", window_days=7).toPandas()
    exact_daily = {
        r["day"]: r["d"]
        for r in ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    days = sorted(exact_daily)
    pdf = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).toPandas()
    assert len(got) == len(days)
    for row in got.itertuples():
        assert abs(row.distinct_day - exact_daily[row.day]) <= max(
            3, 0.05 * exact_daily[row.day]
        )
        lo = days[max(0, days.index(row.day) - 6)]
        exact_win = pdf[(pdf.day >= lo) & (pdf.day <= row.day)][
            "user_id"
        ].nunique()
        assert abs(row.distinct_window - exact_win) <= max(3, 0.05 * exact_win)
    # window >= day always (unions only grow)
    assert (got.distinct_window >= got.distinct_day * 0.95).all()


def test_weighted_quantile_reference_and_edges(spark):
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        weighted_quantile,
    )

    # hand case: values 1..4, weights 1,1,6,2 (total 10); cum: 1,2,8,10
    # -> q=0.5 crosses at value 3; q=0.2 at value 2; q=1.0 at 4
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 6.0), ("g", 4.0, 2.0)],
        "g string, v double, w double",
    )
    for q, want in [(0.5, 3.0), (0.2, 2.0), (1.0, 4.0), (0.05, 1.0)]:
        [r] = weighted_quantile(df, "v", "w", q=q, group_cols=["g"]).collect()
        assert r.wq == want, (q, r.wq)
    # unit weights degenerate to the plain lower median
    dfu = spark.createDataFrame(
        [("g", float(v), 1.0) for v in [5, 1, 3, 2, 4]],
        "g string, v double, w double",
    )
    [r] = weighted_quantile(dfu, "v", "w", 0.5, ["g"]).collect()
    assert r.wq == 3.0
    # ties: duplicated values collapse deterministically
    dft = spark.createDataFrame(
        [("g", 1.0, 1.0)] * 3 + [("g", 2.0, 1.0)] * 3,
        "g string, v double, w double",
    )
    [r] = weighted_quantile(dft, "v", "w", 0.5, ["g"]).collect()
    assert r.wq == 1.0  # cum(1.0)=3 >= 3
    # zero/negative/NULL weights excluded; all-excluded group vanishes
    dfz = spark.createDataFrame(
        [("g", 1.0, 0.0), ("g", 2.0, -1.0), ("h", 9.0, 1.0)],
        "g string, v double, w double",
    )
    got = {r.g: r.wq for r in
           weighted_quantile(dfz, "v", "w", 0.5, ["g"]).collect()}
    assert got == {"h": 9.0}
    import pytest as _p

    with _p.raises(ValueError, match="q must be"):
        weighted_quantile(df, "v", "w", 0.0, ["g"])


def test_bootstrap_ci_statistical_sanity(spark):
    """CI brackets the true mean on a gaussian sample, narrows with n,
    contains the sample mean, and is deterministic."""
    import random

    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        bootstrap_ci,
    )

    rng = random.Random(61)
    rows_small = [(i, "g", rng.gauss(10, 2)) for i in range(200)]
    rows_big = [(i, "g", rng.gauss(10, 2)) for i in range(5000)]
    small = spark.createDataFrame(rows_small, "id long, g string, v double")
    big = spark.createDataFrame(rows_big, "id long, g string, v double")
    [rs] = bootstrap_ci(small, "v", "id", 50, 0.05, ["g"]).collect()
    [rb] = bootstrap_ci(big, "v", "id", 50, 0.05, ["g"]).collect()
    for r in (rs, rb):
        assert r.ci_lo < r.mean_value < r.ci_hi
        assert abs(r.mean_value - 10) < 1.0
    # width shrinks ~1/sqrt(n): 5x more data -> materially narrower
    assert (rb.ci_hi - rb.ci_lo) < 0.6 * (rs.ci_hi - rs.ci_lo)
    # deterministic
    [rs2] = bootstrap_ci(small, "v", "id", 50, 0.05, ["g"]).collect()
    assert (rs.ci_lo, rs.ci_hi) == (rs2.ci_lo, rs2.ci_hi)


def test_bootstrap_ci_tiny_group_survives_zero_weight_replicates(spark):
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        bootstrap_ci,
    )

    df = spark.createDataFrame(
        [(1, "g", 7.0)], "id long, g string, v double"
    )
    [r] = bootstrap_ci(df, "v", "id", 50, 0.05, ["g"]).collect()
    # every non-degenerate replicate resamples the single value
    assert r.ci_lo == r.ci_hi == 7.0
    assert r.mean_value == 7.0 and r.n_rows == 1


def test_equidepth_histogram_semantics(spark):
    from opendosm_parquet_to_sqlite_spark.operators.aggregates import (
        equidepth_histogram,
    )

    # uniform 0..799: every one of 8 buckets holds ~100 rows
    df = spark.createDataFrame(
        [("g", float(i)) for i in range(800)], "g string, v double"
    )
    out = {r.bucket: r for r in
           equidepth_histogram(df, "v", 8, ["g"]).collect()}
    assert len(out) == 8
    assert all(95 <= out[b].n_rows <= 105 for b in out)
    # edges are monotone and span the data
    assert out[0].lo == 0.0 and out[7].hi == 799.0
    for b in range(7):
        assert out[b].hi == out[b + 1].lo

    # heavy tail: equi-depth still balances (the point vs equi-width)
    import random

    rng = random.Random(71)
    heavy = spark.createDataFrame(
        [("g", rng.paretovariate(1.5)) for _ in range(4000)],
        "g string, v double",
    )
    h = equidepth_histogram(heavy, "v", 8, ["g"]).toPandas()
    assert len(h) == 8
    assert h.n_rows.max() <= 1.2 * h.n_rows.min()

    # mass spike at one value: ties land in the lower bucket, empty
    # buckets appear between duplicate edges, counts conserve
    spike = spark.createDataFrame(
        [("g", 5.0)] * 900 + [("g", float(i)) for i in range(100)],
        "g string, v double",
    )
    sp = equidepth_histogram(spike, "v", 8, ["g"]).toPandas()
    assert sp.n_rows.sum() == 1000
