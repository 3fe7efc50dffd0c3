"""Hypothesis fuzz for the round-6 wave-2 operators: random inputs,
cross-checked against pure-Python references and algebraic invariants.
max_examples kept small — each example is a Spark job.
"""

from __future__ import annotations

import pytest

import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import temporal
from opendosm_parquet_to_sqlite_spark.operators.diffing import snapshot_diff

HC = [HealthCheck.function_scoped_fixture]

ewma_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # key
        st.integers(min_value=0, max_value=100),      # ts
        st.integers(min_value=0, max_value=10**6),    # tiebreak
        st.floats(
            allow_nan=False, allow_infinity=False,
            min_value=-1e6, max_value=1e6, width=32,
        ),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: (r[0], r[1], r[2]),
)


def _round6_half_up(x: float) -> float:
    """Round to 6 dp the way Spark's round() does: HALF_UP on the
    SHORTEST-decimal repr of the double (Java BigDecimal.valueOf).
    Python's bankers' round(x, 6) diverges on exact-half shortest reprs
    (hypothesis found 50799.1234375 -> .123437 vs Spark's .123438), so the
    reference must use this convention, not round().
    """
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _ewma_py(rows, alpha):
    """(key, ts, tb) -> ewma, folding in (ts, tb) order per key."""
    out = {}
    state = {}
    for k, ts, tb, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        s = state.get(k)
        s = v if s is None else alpha * v + (1 - alpha) * s
        state[k] = s
        out[(k, ts, tb)] = _round6_half_up(s)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=HC)
@given(rows=ewma_rows)
@pytest.mark.slow
def test_fuzz_ewma_matches_python(spark, rows):
    df = spark.createDataFrame(
        [(k, t, tb, float(v)) for k, t, tb, v in rows],
        "k int, ts long, tb long, value double",
    )
    ref = _ewma_py(rows, 0.3)
    plain = {
        (r.k, r.ts, r.tb): r.ewma
        for r in temporal.ewma(
            df, "k", "ts", "value", alpha=0.3, tiebreak_col="tb"
        ).collect()
    }
    assert plain.keys() == ref.keys()
    for key in ref:
        assert math.isclose(plain[key], ref[key], rel_tol=0, abs_tol=1e-6)


interval_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),     # key
        st.integers(min_value=0, max_value=300),   # start
        st.integers(min_value=0, max_value=200),   # length
    ),
    min_size=0,
    max_size=15,
)


@settings(max_examples=10, deadline=None, suppress_health_check=HC)
@given(
    a_rows=interval_rows,
    b_rows=interval_rows,
    bin_width=st.sampled_from([7, 50, 1000]),
)
@pytest.mark.slow
def test_fuzz_interval_overlap_matches_theta(spark, a_rows, b_rows, bin_width):
    a = spark.createDataFrame(
        [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(a_rows)],
        "k int, a_id long, a_s long, a_e long",
    )
    b = spark.createDataFrame(
        [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(b_rows)],
        "k int, b_id long, b_s long, b_e long",
    )
    got = sorted(
        (r.k, r.a_id, r.b_id)
        for r in temporal.interval_overlap_join(
            a, b, ["k"], "a_s", "a_e", "b_s", "b_e",
            bin_width=bin_width, payload_left=["a_id"],
            payload_right=["b_id"],
        ).collect()
    )
    ref = sorted(
        (k, i, j)
        for i, (k, s, ln) in enumerate(a_rows)
        for j, (k2, s2, ln2) in enumerate(b_rows)
        if k == k2 and s <= s2 + ln2 and s2 <= s + ln
    )
    assert got == ref


diff_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # id
        st.sampled_from(["x", "y", None]),       # attr
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda r: r[0],
)


@settings(max_examples=10, deadline=None, suppress_health_check=HC)
@given(old=diff_rows, new=diff_rows)
@pytest.mark.slow
def test_fuzz_snapshot_diff_matches_dict_reference(spark, old, new):
    schema = "id long, a string, v long"
    o = spark.createDataFrame(old, schema)
    n = spark.createDataFrame(new, schema)
    got = {
        r.id: r.change_type for r in snapshot_diff(o, n, "id").collect()
    }
    od = {r[0]: (r[1], r[2]) for r in old}
    nd = {r[0]: (r[1], r[2]) for r in new}
    ref = {}
    for k in od.keys() | nd.keys():
        if k not in od:
            ref[k] = "added"
        elif k not in nd:
            ref[k] = "removed"
        elif od[k] != nd[k]:
            ref[k] = "changed"
    assert got == ref


@settings(max_examples=6, deadline=None, suppress_health_check=HC)
@given(rows=diff_rows)
def test_fuzz_snapshot_diff_self_is_empty(spark, rows):
    df = spark.createDataFrame(rows, "id long, a string, v long")
    assert snapshot_diff(df, df, "id").count() == 0


# --- hostile-text fuzz for the blocked edit-distance op ----------------------

dirty_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",)
    ),
    min_size=0,
    max_size=60,
)


@settings(max_examples=8, deadline=None, suppress_health_check=HC)
@given(texts=st.lists(dirty_text, min_size=0, max_size=12))
@pytest.mark.slow
def test_fuzz_levenshtein_pairs_hostile_unicode(spark, texts):
    from opendosm_parquet_to_sqlite_spark.operators.neardup import (
        levenshtein_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = levenshtein_pairs(
        df, "text", "doc_id", max_dist=5, prefix_len=4, key_len=20
    ).collect()
    # invariants under any input: ordered pairs, bounded distance, and
    # every reported distance matches an independent Python DP over the
    # SAME normalized keys. Keys are derived via Spark's own trim/lower
    # (not reimplemented in Python) because trim-vs-strip and ICU-vs-
    # Python lowercasing legitimately differ on exotic whitespace/case —
    # the property under test is the blocking+distance machinery, not
    # cross-language unicode normalization parity.
    keys = {
        r.doc_id: r.k
        for r in df.select(
            "doc_id",
            F.lower(F.trim(F.col("text"))).substr(1, 20).alias("k"),
        ).collect()
        if r.k
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    for r in out:
        assert r.id_a < r.id_b
        assert 0 <= r.dist <= 5
        assert keys[r.id_a][:4] == keys[r.id_b][:4]
        assert lev(keys[r.id_a], keys[r.id_b]) == r.dist


# --- attribution fuzz --------------------------------------------------------

attr_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # user
        st.integers(min_value=0, max_value=500),        # ts
        st.sampled_from(["click", "purchase", "view"]),
        st.integers(min_value=0, max_value=10**6),      # id
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda r: (r[0], r[1], r[3]),
)


@settings(max_examples=10, deadline=None, suppress_health_check=HC)
@given(rows=attr_rows, lookback=st.sampled_from([10, 100, 1000]))
@pytest.mark.slow
def test_fuzz_attribution_both_modes_match_python(spark, rows, lookback):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        attribute_first_touch,
        attribute_last_touch,
    )

    df = spark.createDataFrame(
        rows, "user_id long, s long, event_type string, event_id long"
    )
    # pure-Python reference over (ts, id)-ordered per-user streams
    ref_last, ref_first = {}, {}
    by_user: dict = {}
    for u, ts, ev, i in sorted(rows, key=lambda r: (r[0], r[1], r[3])):
        by_user.setdefault(u, []).append((ts, ev, i))
    for u, evs in by_user.items():
        for idx, (ts, ev, i) in enumerate(evs):
            if ev != "purchase":
                continue
            prior = [
                (t, j) for (t, e, j) in evs[:idx]
                if e == "click" and t < ts  # same-second handling differs
            ]
            in_win = [(t, j) for (t, j) in prior if t >= ts - lookback]
            ref_last[i] = (
                (prior[-1][1], ts - prior[-1][0])
                if prior and prior[-1][0] >= ts - lookback
                else (None, None)
            )
            ref_first[i] = (
                (in_win[0][1], ts - in_win[0][0]) if in_win else (None, None)
            )
    # restrict comparison to streams without same-second click/purchase
    # collisions per user: the two operators legitimately differ there
    # (carry-forward sees same-second earlier-id touches, the RANGE
    # frame excludes the whole current second)
    collide = {
        (u, t)
        for u, t, e, _ in rows
        if e == "purchase"
        for u2, t2, e2, _ in rows
        if u2 == u and t2 == t and e2 == "click"
    }
    last = {
        r.conversion_id: (r.touch_id, r.delay_s)
        for r in attribute_last_touch(
            df, "user_id", "s", "event_type",
            conversion_event="purchase", touch_event="click",
            lookback_seconds=lookback, id_col="event_id",
            ts_seconds=F.col("s"),
        ).collect()
    }
    first = {
        r.conversion_id: (r.touch_id, r.delay_s)
        for r in attribute_first_touch(
            df, "user_id", "s", "event_type",
            conversion_event="purchase", touch_event="click",
            lookback_seconds=lookback, id_col="event_id",
            ts_seconds=F.col("s"),
        ).collect()
    }
    for u, ts, ev, i in rows:
        if ev != "purchase" or (u, ts) in collide:
            continue
        assert last[i] == ref_last[i], (i, last[i], ref_last[i])
        assert first[i] == ref_first[i], (i, first[i], ref_first[i])
