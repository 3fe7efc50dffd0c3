"""Keyed operators under a synthetic 90%-one-hot-key distribution: a hot
key must not change their results, checked against pure-Python
references."""

from __future__ import annotations

import random

import pytest

from opendosm_parquet_to_sqlite_spark.operators.skew import batch_profile
from opendosm_parquet_to_sqlite_spark.operators.temporal import (
    ewma,
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


def test_batch_profile_hot_key_matches_python(spark, skewed):
    got = {r.key: r for r in batch_profile(skewed, "user_id", "et", "value").collect()}
    by_key = {}
    for uid, ts, v in _skewed_rows():
        by_key.setdefault(str(uid), []).append((ts, v))
    assert got.keys() == by_key.keys()
    for key, evs in by_key.items():
        r, vals = got[key], [v for _, v in evs]
        n, mean = len(vals), sum(vals) / len(vals)
        assert r.n_events == n
        assert abs(r.mean_value - mean) <= 1e-6
        assert abs(r.m2_value - (sum(v * v for v in vals) - n * mean * mean)) <= 1e-6 * max(1, n)
        assert (r.min_value, r.max_value) == (min(vals), max(vals))
        assert (r.last_ts, r.last_value) == max(evs)


def test_rolling_features_hot_key_matches_python(spark, skewed):
    window = 3600
    got = {
        (r.user_id, r.et): (r.roll_n, r.roll_sum, r.roll_min, r.roll_max)
        for r in rolling_features(skewed, ["user_id"], "et", "value", window).collect()
    }
    rows = _skewed_rows()
    assert len(got) == len(rows)
    for uid, et, _ in rows:
        frame = [v for u, t, v in rows if u == uid and et - window <= t <= et]
        n, total, lo, hi = got[(uid, et)]
        assert n == len(frame)
        assert abs(total - sum(frame)) <= 1e-6
        assert (lo, hi) == (min(frame), max(frame))


def test_rolling_features_boundary_exact(spark):
    # window = 50; events at 49/99/100/101: the frame is [et - 50, et]
    rows = [(1, 49, 1.0), (1, 99, 2.0), (1, 100, 4.0), (1, 101, 8.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.et: (r.roll_n, r.roll_sum)
        for r in rolling_features(df, ["user_id"], "et", "value", 50).collect()
    }
    assert got == {
        49: (1, 1.0),
        99: (2, 3.0),       # 49 within [49, 99]
        100: (2, 6.0),      # 49 aged out
        101: (3, 14.0),     # 99 + 100 + 101 all within [51, 101]
    }


# --- seeded EWMA --------------------------------------------------------------


def _ewma_py(rows, alpha):
    """(key, ts) -> ewma, folding in ts order per key."""
    out, state = {}, {}
    for k, ts, v in sorted(rows):
        s = state.get(k)
        state[k] = s = v if s is None else alpha * v + (1 - alpha) * s
        out[(k, ts)] = s
    return out


def _assert_ewma_matches_python(spark, rows, alpha):
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = {(r.k, r.ts): r.ewma for r in ewma(df, "k", "ts", "value", alpha=alpha).collect()}
    ref = _ewma_py(rows, alpha)
    assert got.keys() == ref.keys()
    for key, want in ref.items():
        assert abs(got[key] - want) <= 1e-6


@pytest.mark.slow
def test_ewma_hot_key_matches_python(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    # 90%-hot key plus two small ones
    for i in range(900):
        rows.append(("hot", int(i * 10), float(rng.normal())))
    for key in ("a", "b"):
        for i in range(50):
            rows.append((key, int(i * 37), float(rng.normal())))
    _assert_ewma_matches_python(spark, rows, 0.25)


@pytest.mark.slow
def test_ewma_sparse_key_matches_python(spark):
    # key "gap" has events only at the two ends of a busy key's span
    rows = [("gap", 0, 10.0), ("gap", 1000, 20.0)]
    rows += [("busy", t, float(t % 7)) for t in range(0, 1001, 50)]
    _assert_ewma_matches_python(spark, rows, 0.5)


def test_ewma_single_row_and_empty(spark):
    df = spark.createDataFrame([("k", 5, 1.0)], "k string, ts long, value double")
    out = ewma(df, "k", "ts", "value").collect()
    assert [(r.k, r.ts, r.ewma) for r in out] == [("k", 5, 1.0)]
    empty = spark.createDataFrame([], "k string, ts long, value double")
    assert ewma(empty, "k", "ts", "value").count() == 0


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
