"""Skew remedies: salted/sliced twins must be row-identical to the plain
operators under a synthetic 90%-one-hot-key distribution."""

from __future__ import annotations

import random

import pytest

from opendosm_parquet_to_sqlite_spark.operators.skew import (
    batch_profile,
    rolling_features_sliced,
    salted_batch_profile,
)
from opendosm_parquet_to_sqlite_spark.operators.temporal import (
    rolling_features,
)

SCHEMA = "user_id long, et long, value double"


def _skewed_rows(n=2000, hot_frac=0.9, seed=42):
    """90% of events on one hot key, the rest spread over 50 cold keys;
    unique ts per key (the profile's last_value contract)."""
    rng = random.Random(seed)
    rows, next_ts = [], {}
    for _ in range(n):
        uid = 1 if rng.random() < hot_frac else rng.randint(2, 51)
        ts = next_ts.get(uid, 0) + rng.randint(1, 900)
        next_ts[uid] = ts
        rows.append((uid, ts, round(rng.uniform(-100, 100), 3)))
    return rows


@pytest.fixture(scope="module")
def skewed(spark):
    return spark.createDataFrame(_skewed_rows(), SCHEMA)


def _by_key(df):
    return {r.key: tuple(r)[1:] for r in df.collect()}


def test_salted_profile_matches_plain(spark, skewed):
    plain = _by_key(batch_profile(skewed, "user_id", "et", "value"))
    for factor in (1, 16):
        salted = _by_key(
            salted_batch_profile(
                skewed, "user_id", "et", "value", salt_factor=factor
            )
        )
        assert salted == plain


def test_salted_profile_matches_plain_with_tiebreak(spark):
    # duplicate (key, ts) pairs force the tiebreak path
    rows = [(1, 10, 5.0, "a"), (1, 10, 7.0, "b"), (1, 20, 1.0, "a"),
            (2, 10, 3.0, "z")]
    df = spark.createDataFrame(
        rows, "user_id long, et long, value double, src string"
    )
    plain = _by_key(
        batch_profile(df, "user_id", "et", "value", tiebreak_col="src")
    )
    salted = _by_key(
        salted_batch_profile(
            df, "user_id", "et", "value", tiebreak_col="src", salt_factor=8
        )
    )
    assert salted == plain


def test_sliced_rolling_matches_plain(spark, skewed):
    def canon(df):
        return sorted(
            (r.user_id, r.et, r.roll_n, r.roll_sum, r.roll_mean,
             r.roll_min, r.roll_max)
            for r in df.collect()
        )

    plain = canon(
        rolling_features(skewed, ["user_id"], "et", "value", 3600)
    )
    # slice == window (max replication) and slice >> window (min slices):
    # both must be row-identical, including frames that straddle a
    # slice boundary
    for sl in (3600, 7200, 100_000):
        got = canon(
            rolling_features_sliced(
                skewed, ["user_id"], "et", "value", 3600, sl
            )
        )
        assert got == plain


def test_sliced_rolling_boundary_exact(spark):
    # hand-built boundary band: slice = 100, window = 50; events at
    # 49/99/100/101 — the 99 row must carry into slice 1 and feed the
    # frames of 100/101 but emit only its own slice-0 row
    rows = [(1, 49, 1.0), (1, 99, 2.0), (1, 100, 4.0), (1, 101, 8.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.et: (r.roll_n, r.roll_sum)
        for r in rolling_features_sliced(
            df, ["user_id"], "et", "value", 50, 100
        ).collect()
    }
    assert got == {
        49: (1, 1.0),
        99: (2, 3.0),       # 49 within [49, 99]
        100: (2, 6.0),      # 99 carried across the boundary; 49 aged out
        101: (3, 14.0),     # 99 + 100 + 101 all within [51, 101]
    }
    assert len(got) == len(rows)  # carry copies emit no rows


def test_sliced_rejects_short_slice(spark, skewed):
    with pytest.raises(ValueError):
        rolling_features_sliced(skewed, ["user_id"], "et", "value", 100, 99)


# --- time-sliced seeded EWMA -------------------------------------------------


@pytest.mark.slow
def test_ewma_sliced_row_identical_to_plain(spark):
    import numpy as np

    from opendosm_parquet_to_sqlite_spark.operators.skew import ewma_sliced
    from opendosm_parquet_to_sqlite_spark.operators.temporal import ewma

    rng = np.random.default_rng(3)
    rows = []
    # 90%-hot key plus two small ones; ts spans several slice bands
    for i in range(900):
        rows.append(("hot", int(i * 10), float(rng.normal())))
    for key in ("a", "b"):
        for i in range(50):
            rows.append((key, int(i * 37), float(rng.normal())))
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    plain = sorted(
        (r.k, r.ts, r.ewma)
        for r in ewma(df, "k", "ts", "value", alpha=0.25).collect()
    )
    sliced = sorted(
        (r.k, r.ts, r.ewma)
        for r in ewma_sliced(
            df, "k", "ts", "value", alpha=0.25, n_slices=5
        ).collect()
    )
    assert sliced == plain


@pytest.mark.slow
def test_ewma_sliced_keys_absent_from_middle_slices(spark):
    from opendosm_parquet_to_sqlite_spark.operators.skew import ewma_sliced
    from opendosm_parquet_to_sqlite_spark.operators.temporal import ewma

    # key "gap" has events only in the first and last band: its carry
    # state must survive the silent middle slices unchanged
    rows = [("gap", 0, 10.0), ("gap", 1000, 20.0)]
    rows += [("busy", t, float(t % 7)) for t in range(0, 1001, 50)]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    plain = sorted(
        (r.k, r.ts, r.ewma)
        for r in ewma(df, "k", "ts", "value", alpha=0.5).collect()
    )
    sliced = sorted(
        (r.k, r.ts, r.ewma)
        for r in ewma_sliced(
            df, "k", "ts", "value", alpha=0.5, n_slices=4
        ).collect()
    )
    assert sliced == plain


def test_ewma_sliced_single_slice_and_empty(spark):
    from opendosm_parquet_to_sqlite_spark.operators.skew import ewma_sliced

    df = spark.createDataFrame([("k", 5, 1.0)], "k string, ts long, value double")
    out = ewma_sliced(df, "k", "ts", "value", n_slices=3).collect()
    assert [(r.k, r.ts, r.ewma) for r in out] == [("k", 5, 1.0)]
    empty = spark.createDataFrame([], "k string, ts long, value double")
    assert ewma_sliced(empty, "k", "ts", "value", n_slices=3).count() == 0


# --- join_size_report --------------------------------------------------------


def test_join_size_report_exactness_and_hot_share(spark):
    from opendosm_parquet_to_sqlite_spark.operators.skew import (
        join_size_report,
    )

    left = spark.createDataFrame(
        [(k,) for k in [1] * 10 + [2] * 3 + [3]], "k long"
    )
    right = spark.createDataFrame(
        [(k,) for k in [1] * 5 + [2] * 2 + [4]], "k long"
    )
    [r] = join_size_report(left, right, ["k"]).collect()
    # exact: 10*5 + 3*2 = 56; verify against the actual join
    actual = left.join(right, "k").count()
    assert r.est_join_rows == 56 == actual
    assert r.n_common_keys == 2
    assert r.n_left_rows == 14 and r.n_right_rows == 8
    assert abs(r.hot_key_share - 50 / 56) < 1e-6
    assert abs(r.amplification - 56 / 14) < 1e-6


def test_join_size_report_disjoint_keys(spark):
    from opendosm_parquet_to_sqlite_spark.operators.skew import (
        join_size_report,
    )

    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(3,)], "k long")
    [r] = join_size_report(left, right, ["k"]).collect()
    assert r.est_join_rows == 0 and r.n_common_keys == 0
    assert r.hot_key_share == 0.0
