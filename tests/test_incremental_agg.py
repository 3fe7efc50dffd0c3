"""Incremental aggregate maintenance: monoid property over arbitrary
batch splits, SQL NULL semantics at finalize, standing-state dataset
round-trip. Oracle parity of the composed query runs in
tests/test_oracle_parity.py (shadow oracle incremental_agg)."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import incremental


def _canon(df):
    return sorted(
        tuple(None if v is None else round(v, 6) if isinstance(v, float) else v
              for v in r)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def events(spark):
    return (
        spark.read.option("mergeSchema", "false")
        .parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "event_type", "value")
    )


def test_three_way_split_equals_one_shot(spark, events):
    keys = ["event_type"]
    whole = incremental.finalize_agg(
        incremental.agg_state(events, keys, "value"), keys
    )
    parts = [
        incremental.agg_state(
            events.filter(F.col("event_id") % 3 == i), keys, "value"
        )
        for i in range(3)
    ]
    inc = incremental.finalize_agg(
        incremental.merge_agg_states(parts, keys), keys
    )
    assert _canon(whole) == _canon(inc)


@settings(max_examples=15, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.one_of(
                st.none(),
                st.floats(-1e3, 1e3, allow_nan=False).map(
                    lambda x: round(x, 3)
                ),
            ),
        ),
        min_size=0,
        max_size=40,
    ),
    cut=st.integers(0, 7),
)
@pytest.mark.slow
def test_monoid_property_fuzz(spark, data, cut):
    """Any split point, any key mix, NULLs included: merged partials
    finalize identically to the one-shot aggregation."""
    rows = [(i, k, v) for i, (k, v) in enumerate(data)]
    df = spark.createDataFrame(
        rows, "i long, k string, v double"
    ) if rows else spark.createDataFrame([], "i long, k string, v double")
    whole = incremental.finalize_agg(
        incremental.agg_state(df, ["k"], "v"), ["k"]
    )
    a = df.filter(F.col("i") % 8 < cut)
    b = df.filter(F.col("i") % 8 >= cut)
    inc = incremental.finalize_agg(
        incremental.merge_agg_states(
            [incremental.agg_state(a, ["k"], "v"),
             incremental.agg_state(b, ["k"], "v")],
            ["k"],
        ),
        ["k"],
    )
    assert _canon(whole) == _canon(inc)


def test_all_null_key_matches_sql_semantics(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 2.0)], "k string, v double"
    )
    out = {
        r.k: r
        for r in incremental.finalize_agg(
            incremental.agg_state(df, ["k"], "v"), ["k"]
        ).collect()
    }
    assert out["a"].n_values == 0
    assert out["a"].sum_value is None and out["a"].avg_value is None
    assert out["a"].min_value is None and out["a"].std_value is None
    assert out["b"].n_values == 1 and out["b"].sum_value == 2.0
    assert out["b"].std_value == 0.0


def test_dataset_maintenance_roundtrip(spark, events, tmp_path):
    state_path = str(tmp_path / "state")
    for i in range(3):
        incremental.maintain_agg_dataset(
            spark, state_path,
            events.filter(F.col("event_id") % 3 == i), ["event_type"],
            "value",
        )
    final = incremental.finalize_agg(
        spark.read.parquet(state_path), ["event_type"]
    )
    whole = incremental.finalize_agg(
        incremental.agg_state(events, ["event_type"], "value"),
        ["event_type"],
    )
    assert _canon(final) == _canon(whole)
    assert not os.path.exists(state_path + ".next")
    assert not os.path.exists(state_path + ".old")


def test_crash_recovery_mid_swap_and_stale_staging(spark, events, tmp_path):
    """Simulate every crash window of the two-rename swap and verify the
    next run recovers: (a) state stranded at '.old' with nothing at the
    path comes back; (b) a completed swap's leftover '.old' is cleaned;
    (c) a stale '.next' from a crashed write doesn't break the rename."""
    state_path = str(tmp_path / "state")
    b0 = events.filter(F.col("event_id") % 3 == 0)
    b1 = events.filter(F.col("event_id") % 3 == 1)
    b2 = events.filter(F.col("event_id") % 3 == 2)
    incremental.maintain_agg_dataset(spark, state_path, b0, ["event_type"], "value")

    # (a) crash between rename 1 and rename 2: state gone, '.old' holds it
    os.rename(state_path, state_path + ".old")
    incremental.maintain_agg_dataset(spark, state_path, b1, ["event_type"], "value")
    assert os.path.exists(state_path)
    assert not os.path.exists(state_path + ".old")

    # (b)+(c) crash after swap (stranded '.old') AND a stale half-write
    os.makedirs(state_path + ".old")
    open(os.path.join(state_path + ".old", "junk"), "w").write("x")
    os.makedirs(state_path + ".next")
    incremental.maintain_agg_dataset(spark, state_path, b2, ["event_type"], "value")
    assert not os.path.exists(state_path + ".old")
    assert not os.path.exists(state_path + ".next")

    final = incremental.finalize_agg(
        spark.read.parquet(state_path), ["event_type"]
    )
    whole = incremental.finalize_agg(
        incremental.agg_state(events, ["event_type"], "value"), ["event_type"]
    )
    assert _canon(final) == _canon(whole)


def test_merge_upsert_dataset_recovers_stranded_old(spark, tmp_path):
    from opendosm_parquet_to_sqlite_spark.operators import merge as merge_ops

    path = str(tmp_path / "ds")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, v double"
    ).write.parquet(path)
    # crash mid-swap: dataset stranded at '.old', stale '.merge' present
    os.rename(path, path + ".old")
    os.makedirs(path + ".merge")
    upd = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k long, v double")
    res = merge_ops.merge_upsert_dataset(spark, path, upd, ["k"])
    assert res == {"rows_before": 2, "rows_after": 3}
    out = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: 10.0, 2: 99.0, 3: 30.0}
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".merge")


def test_redelivered_batch_is_skipped(spark, events, tmp_path):
    """At-least-once redelivery cannot double-count: a batch id at or
    below the atomic marker is a no-op."""
    state_path = str(tmp_path / "state")
    r1 = incremental.maintain_agg_dataset(
        spark, state_path, events, ["event_type"], "value", batch_id=0
    )
    assert r1["applied"] is True
    s1 = _canon(spark.read.parquet(state_path))
    r2 = incremental.maintain_agg_dataset(
        spark, state_path, events, ["event_type"], "value", batch_id=0
    )
    assert r2["applied"] is False
    assert _canon(spark.read.parquet(state_path)) == s1
    r3 = incremental.maintain_agg_dataset(
        spark, state_path, events, ["event_type"], "value", batch_id=1
    )
    assert r3["applied"] is True
    assert _canon(spark.read.parquet(state_path)) != s1


def test_cm_state_maintenance_matches_whole(spark, tmp_path):
    """Three batches folded into the persisted CM state == one sketch
    over the union; estimates agree; redelivery skipped."""
    from opendosm_parquet_to_sqlite_spark.operators import aggregates

    rows = [(i, f"k{i % 37}") for i in range(3000)]
    df = spark.createDataFrame(rows, "i long, item string")
    state = str(tmp_path / "cm")
    for b in range(3):
        r = incremental.maintain_cm_dataset(
            spark, state, df.filter(F.col("i") % 3 == b), "item",
            width=128, depth=3, batch_id=b,
        )
        assert r["applied"] is True
    whole = aggregates.cm_build(df, "item", width=128, depth=3)
    a = sorted(map(tuple, spark.read.parquet(state).collect()))
    b_ = sorted(map(tuple, whole.collect()))
    assert a == b_
    # redelivery of batch 2 is a no-op
    r = incremental.maintain_cm_dataset(
        spark, state, df, "item", width=128, depth=3, batch_id=2
    )
    assert r["applied"] is False
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == a


def test_hll_state_maintenance_estimates_match_whole(spark, tmp_path):
    """Per-key distinct estimates from 3-batch-maintained HLL state ==
    estimates from one whole-stream sketch, exactly (union is
    order-insensitive), and within 5% of exact distinct counts."""
    rows = [(i, f"k{i % 4}", i % 500) for i in range(6000)]
    df = spark.createDataFrame(rows, "i long, k string, uid long")
    state = str(tmp_path / "hll")
    for b in range(3):
        incremental.maintain_hll_dataset(
            spark, state, df.filter(F.col("i") % 3 == b), ["k"], "uid",
            batch_id=b,
        )
    got = {
        r.k: r.est
        for r in spark.read.parquet(state)
        .select("k", F.hll_sketch_estimate("sketch").alias("est"))
        .collect()
    }
    whole = {
        r.k: r.est
        for r in df.groupBy("k")
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg("uid", F.lit(12))).alias("est"))
        .collect()
    }
    exact = {
        r.k: r.d
        for r in df.groupBy("k")
        .agg(F.countDistinct("uid").alias("d"))
        .collect()
    }
    assert got == whole
    for k in exact:
        assert abs(got[k] - exact[k]) <= max(3, 0.05 * exact[k])


def test_mg_state_capacity_bound_and_one_sided_error(spark, tmp_path):
    """Undersized capacity: state stays <= capacity rows, estimates never
    overcount, and undercount stays within the summed per-pass bound
    (mergeable-summaries guarantee) — so the genuinely heavy item
    survives every truncation."""
    # 1 heavy item (600) + 200 singletons per batch
    heavy = [("HEAVY",)] * 300
    noise1 = [(f"n1_{i}",) for i in range(200)]
    noise2 = [(f"n2_{i}",) for i in range(200)]
    b1 = spark.createDataFrame(heavy + noise1, "item string")
    b2 = spark.createDataFrame(heavy + noise2, "item string")
    state_path = str(tmp_path / "state")
    cap = 32
    incremental.maintain_mg_dataset(
        spark, state_path, b1, "item", capacity=cap, batch_id=0
    )
    incremental.maintain_mg_dataset(
        spark, state_path, b2, "item", capacity=cap, batch_id=1
    )
    state = spark.read.parquet(state_path).collect()
    assert len(state) <= cap
    got = {r["item"]: r["est_count"] for r in state}
    assert "HEAVY" in got
    n_total = 1000.0
    assert got["HEAVY"] <= 600
    # per-partition + merge decrements each bounded by N/(cap+1); the
    # two-batch pipeline applies at most 3 bounded decrement passes
    assert got["HEAVY"] >= 600 - 3 * n_total / (cap + 1)
    assert all(v <= 600 for v in got.values())


def test_mg_redelivered_batch_skipped(spark, tmp_path):
    items = spark.createDataFrame([("a",), ("a",), ("b",)], "item string")
    state_path = str(tmp_path / "state")
    r1 = incremental.maintain_mg_dataset(
        spark, state_path, items, "item", capacity=16, batch_id=0
    )
    r2 = incremental.maintain_mg_dataset(
        spark, state_path, items, "item", capacity=16, batch_id=0
    )
    assert r1["applied"] and not r2["applied"]
    got = {
        r["item"]: r["est_count"]
        for r in spark.read.parquet(state_path).collect()
    }
    assert got == {"a": 2, "b": 1}
