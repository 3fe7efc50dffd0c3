"""Unit tests for the composed temporal joins (as-of, range-bin)."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import temporal


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_basic_and_no_match(spark):
    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0),
            (1, _ts("2024-01-01T12:00:00"), 120.0),
            (2, _ts("2024-01-01T11:00:00"), 200.0),
        ],
        ["key", "ts", "price"],
    )
    probes = spark.createDataFrame(
        [
            (10, 1, _ts("2024-01-01T11:30:00")),  # between → 10:00 row
            (11, 1, _ts("2024-01-01T12:00:00")),  # exact tie → 12:00 row
            (12, 2, _ts("2024-01-01T09:00:00")),  # before any → null
            (13, 3, _ts("2024-01-01T12:00:00")),  # unseen key → null
        ],
        ["probe_id", "key", "pts"],
    )
    out = {
        r["probe_id"]: r["asof_price"]
        for r in temporal.asof_join(
            probes, events, on=["key"], probe_ts="pts", event_ts="ts",
            payload_cols=["price"],
        ).collect()
    }
    assert out == {10: 100.0, 11: 120.0, 12: None, 13: None}


def test_asof_join_keeps_probe_payload_and_count(spark):
    events = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:00:00"), 1.0)], ["key", "ts", "price"]
    )
    probes = spark.createDataFrame(
        [(i, 1, _ts(f"2024-01-0{1 + i % 3}T05:00:00"), f"p{i}") for i in range(9)],
        ["probe_id", "key", "pts", "tag"],
    )
    out = temporal.asof_join(
        probes, events, ["key"], "pts", "ts", ["price"]
    )
    assert out.count() == 9  # exactly one row per probe, never duplicated
    assert set(out.columns) == {"probe_id", "key", "pts", "tag", "asof_price"}


def test_asof_join_null_payload_not_backfilled(spark):
    """A NULL payload field in the latest matching event must survive as
    NULL (true ASOF semantics) — not be back-filled from an older event —
    and every asof_* column must come from the same latest event."""
    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0, "old"),
            (1, _ts("2024-01-01T12:00:00"), None, "new"),   # latest: null price
            (2, _ts("2024-01-01T10:00:00"), 5.0, None),     # latest: null tag
        ],
        ["key", "ts", "price", "etag"],
    )
    probes = spark.createDataFrame(
        [(10, 1, _ts("2024-01-01T13:00:00")),
         (11, 2, _ts("2024-01-01T13:00:00"))],
        ["probe_id", "key", "pts"],
    )
    out = {
        r["probe_id"]: (r["asof_price"], r["asof_etag"])
        for r in temporal.asof_join(
            probes, events, ["key"], "pts", "ts", ["price", "etag"]
        ).collect()
    }
    # probe 10: latest event is 12:00 with price=NULL — must NOT see 100.0
    assert out[10] == (None, "new")
    # probe 11: both fields from its single latest event
    assert out[11] == (5.0, None)


def test_range_join_bins_boundaries_inclusive(spark):
    ranges = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), _ts("2024-01-01T11:00:00"))],
        ["range_id", "start_ts", "end_ts"],
    )
    points = spark.createDataFrame(
        [
            (_ts("2024-01-01T09:59:59"),),  # out (before)
            (_ts("2024-01-01T10:00:00"),),  # in (start boundary)
            (_ts("2024-01-01T10:30:00"),),  # in
            (_ts("2024-01-01T11:00:00"),),  # in (end boundary)
            (_ts("2024-01-01T11:00:01"),),  # out (after)
        ],
        ["ts"],
    )
    out = temporal.range_join_bins(
        ranges, points, "start_ts", "end_ts", "ts", bin_width_seconds=600
    )
    assert out.count() == 3


def test_range_join_result_independent_of_bin_width(spark):
    """Bin width is a perf knob, never a semantics knob: each candidate
    pair appears in exactly one bin for any width."""
    ranges = spark.createDataFrame(
        [(i, _ts(f"2024-01-01T{8 + i:02d}:00:00"),
          _ts(f"2024-01-01T{10 + i:02d}:30:00")) for i in range(5)],
        ["range_id", "start_ts", "end_ts"],
    )
    points = spark.createDataFrame(
        [(_ts(f"2024-01-01T{h:02d}:{m:02d}:00"),)
         for h in range(6, 20) for m in (0, 17, 45)],
        ["ts"],
    )
    results = []
    for width in (60, 3600, 86_400):
        out = temporal.range_join_bins(
            ranges, points, "start_ts", "end_ts", "ts", bin_width_seconds=width
        )
        results.append(sorted((r["range_id"], r["ts"]) for r in out.collect()))
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0


def test_batch_profile_tiebreak_on_duplicate_ts(spark):
    from opendosm_parquet_to_sqlite_spark.operators.skew import batch_profile

    # two events share the max ts; event_id orders them
    rows = [("a", 10, 1.0, 1), ("a", 20, 7.0, 2), ("a", 20, 3.0, 5)]
    df = spark.createDataFrame(rows, "k string, et long, value double, eid long")
    r = batch_profile(df, "k", "et", "value", tiebreak_col="eid").collect()[0]
    assert r.last_ts == 20
    assert r.last_value == 3.0  # eid=5 wins the et tie
    assert r.n_events == 3


def test_rolling_features_frame_inclusive_and_tied(spark):
    # window=100: frame is [et-100, et] INCLUSIVE both ends; tied ts rows
    # share one frame (RANGE semantics)
    rows = [
        (1, 1, 0, 10.0),
        (1, 2, 100, 2.0),    # et-100 == 0 -> includes the first row
        (1, 3, 201, 4.0),    # frame [101, 201] -> excludes et=100
        (1, 4, 201, 6.0),    # tie with row 3: same frame, sees both
        (2, 5, 100, 1.0),    # other key isolated
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id int, et long, value double")
    out = temporal.rolling_features(df, ["user_id"], "et", "value", 100)
    got = {r.event_id: (r.roll_n, r.roll_sum, r.roll_mean) for r in out.collect()}
    assert got[1] == (1, 10.0, 10.0)
    assert got[2] == (2, 12.0, 6.0)         # boundary et-100 included
    assert got[3] == (2, 10.0, 5.0)         # both tied rows in frame
    assert got[4] == (2, 10.0, 5.0)         # identical frame for the tie
    assert got[5] == (1, 1.0, 1.0)


def test_rolling_features_rejects_nonpositive_window(spark):
    import pytest

    df = spark.createDataFrame([(1, 1, 0, 1.0)], "user_id int, event_id int, et long, value double")
    with pytest.raises(ValueError):
        temporal.rolling_features(df, ["user_id"], "et", "value", 0)


def test_rolling_features_matches_bruteforce_random(spark):
    """Operator == per-row brute force on seeded random data with
    duplicate timestamps and multiple keys (no partitioning assumption)."""
    import random

    rng = random.Random(7)
    rows = [
        (rng.randrange(4), i, rng.randrange(0, 50), round(rng.uniform(-5, 5), 3))
        for i in range(200)
    ]
    W = 7
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, et long, value double"
    )
    out = temporal.rolling_features(df, ["user_id"], "et", "value", W)
    got = {
        r.event_id: (r.roll_n, r.roll_sum, r.roll_mean, r.roll_min, r.roll_max)
        for r in out.collect()
    }
    for k, eid, et, v in rows:
        frame = [v2 for k2, _, et2, v2 in rows if k2 == k and et - W <= et2 <= et]
        assert got[eid][0] == len(frame)
        assert got[eid][1] == round(sum(frame), 6)
        assert abs(got[eid][2] - sum(frame) / len(frame)) < 1e-6
        assert got[eid][3] == round(min(frame), 6)
        assert got[eid][4] == round(max(frame), 6)


# --- count_anomaly -----------------------------------------------------------


def test_count_anomaly_flags_injected_spike(spark):
    """Steady 5-events-per-hour history with one 50-event hour: only
    the spike hour flags, z matches the hand-computed value."""
    from datetime import datetime, timedelta

    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        count_anomaly,
    )

    rows = []
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    eid = 0
    # 4 weeks of steady traffic: hour 10 and 11 daily, 5 events each
    # (+/- 1 alternating so variance is nonzero)
    for d in range(28):
        for h in (10, 11):
            n = 5 + (d % 2)
            for _ in range(n):
                rows.append((eid, t0 + timedelta(days=d, hours=h)))
                eid += 1
    # spike: day 29 (same weekday as day 1), hour 10, 50 events
    for _ in range(50):
        rows.append((eid, t0 + timedelta(days=28, hours=10)))
        eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = count_anomaly(df, "ts", z_threshold=3.0).toPandas()
    flagged = out[out.is_anomaly]
    assert len(flagged) == 1
    [r] = flagged.itertuples()
    assert (r.day, r.hour, r.n) == ("2024-01-29", 10, 50)
    assert r.z > 3.0
    # all steady hours unflagged with finite z
    steady = out[~out.is_anomaly]
    assert (steady.z.abs() <= 3.0).all()


def test_count_anomaly_constant_history_never_flags(spark):
    from datetime import datetime, timedelta

    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        count_anomaly,
    )

    t0 = datetime(2024, 3, 4, 9, 0, 0)
    rows = [
        (i * 10 + k, t0 + timedelta(days=7 * i))
        for i in range(3)
        for k in range(4)  # exactly 4 events, same weekday+hour, 3 weeks
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = count_anomaly(df, "ts").toPandas()
    assert (~out.is_anomaly).all()
    assert out.z.isna().all()  # zero-variance cells yield NULL z


# --- interval_union ----------------------------------------------------------


def test_interval_union_running_max_matters(spark):
    """A long interval swallowing later short ones: comparing against
    merely the PREVIOUS end would split covered intervals out of the
    island — the running max keeps them in."""
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        interval_union,
    )

    rows = [
        ("k", 0.0, 100.0),   # long
        ("k", 10.0, 20.0),   # covered
        ("k", 30.0, 40.0),   # covered (prev end 20 < 30 would break!)
        ("k", 90.0, 150.0),  # overlaps the long one's end
        ("k", 200.0, 210.0), # separate island
    ]
    df = spark.createDataFrame(rows, "k string, s double, e double")
    got = sorted(
        (r.start, r.end, r.n_merged)
        for r in interval_union(df, ["k"], "s", "e").collect()
    )
    assert got == [(0.0, 150.0, 4), (200.0, 210.0, 1)]


def test_interval_union_gap_and_touching(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        interval_union,
    )

    rows = [("k", 0.0, 10.0), ("k", 10.0, 20.0), ("k", 25.0, 30.0)]
    df = spark.createDataFrame(rows, "k string, s double, e double")
    # touching merges at min_gap=0; the 5-wide gap stays split
    got = sorted(
        (r.start, r.end) for r in
        interval_union(df, ["k"], "s", "e").collect()
    )
    assert got == [(0.0, 20.0), (25.0, 30.0)]
    # min_gap=5 merges everything
    got2 = sorted(
        (r.start, r.end) for r in
        interval_union(df, ["k"], "s", "e", min_gap=5.0).collect()
    )
    assert got2 == [(0.0, 30.0)]


def test_interval_union_drops_invalid(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        interval_union,
    )

    rows = [("k", 5.0, 1.0), ("k", None, 3.0), ("k", 1.0, 2.0)]
    df = spark.createDataFrame(rows, "k string, s double, e double")
    got = interval_union(df, ["k"], "s", "e").collect()
    assert [(r.start, r.end, r.n_merged) for r in got] == [(1.0, 2.0, 1)]


# --- cusum_changepoints -------------------------------------------------------


def test_cusum_finds_the_level_shift(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        cusum_changepoints,
    )

    # 20 points at ~0 then 20 at ~5: argmax |S| sits at the boundary
    xs = [0.0, 0.2, -0.1, 0.1] * 5 + [5.0, 5.2, 4.9, 5.1] * 5
    rows = [("k", i, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, ord long, id long, x double")
    row = cusum_changepoints(df, ["k"], "ord", "x", "id").collect()[0]
    assert row["n"] == 40
    assert row["flagged"] is True
    assert row["at_order"] == 19  # last index before the change
    # pure-python reference for s_max
    import statistics

    m = statistics.fmean(xs)
    sd = statistics.stdev(xs)
    import math

    cum, smax = 0.0, 0.0
    for x in xs:
        cum += x - m
        smax = max(smax, abs(cum) / (sd * math.sqrt(len(xs))))
    assert row["s_max"] == pytest.approx(smax, abs=1e-6)


def test_cusum_null_regime_and_degenerate_keys(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        cusum_changepoints,
    )

    rows = (
        # alternating noise: no sustained shift -> not flagged
        [("noise", i, i, float((-1) ** i)) for i in range(40)]
        # constant: zero variance -> undefined
        + [("const", i, i, 2.0) for i in range(5)]
        # single row -> undefined
        + [("one", 0, 0, 1.0)]
    )
    df = spark.createDataFrame(rows, "k string, ord long, id long, x double")
    out = {r["k"]: r for r in cusum_changepoints(df, ["k"], "ord", "x", "id").collect()}
    assert out["noise"]["flagged"] is False
    assert out["const"]["s_max"] is None and out["const"]["flagged"] is None
    assert out["one"]["s_max"] is None and out["one"]["at_order"] is None


# --- interpolate_linear -------------------------------------------------------


def test_interpolate_linear_midpoints_and_edges(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        interpolate_linear,
    )

    # obs at t=100 (v=10) and t=200 (v=30); grid step 50 -> ticks
    # 100, 150, 200: exact obs at 100/200, midpoint 20 at 150
    df = spark.createDataFrame(
        [("k", 100, 10.0), ("k", 200, 30.0)], "k string, ts long, v double"
    )
    out = {
        r["grid_ts"]: r["value"]
        for r in interpolate_linear(df, ["k"], "ts", "v", 50).collect()
    }
    assert out[100] == pytest.approx(10.0)
    assert out[150] == pytest.approx(20.0)
    assert out[200] == pytest.approx(30.0)


def test_interpolate_linear_no_tick_key_emits_nothing(spark):
    # a key whose only observation (or whole span) falls strictly
    # between grid multiples has NO ticks -- it must emit nothing, not
    # throw Illegal sequence boundaries (ADVICE r7: single obs at
    # ts=1001 with step=100 -> first_tick 1100 > hi 1001)
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        interpolate_linear,
    )

    df = spark.createDataFrame(
        [("lone", 1001, 5.0), ("span", 910, 1.0), ("span", 990, 2.0),
         ("ok", 100, 10.0), ("ok", 200, 30.0)],
        "k string, ts long, v double",
    )
    rows = interpolate_linear(df, ["k"], "ts", "v", 100).collect()
    keys = {r["k"] for r in rows}
    assert keys == {"ok"}   # lone and span have no aligned ticks
    assert {r["grid_ts"] for r in rows} == {100, 200}


def test_interpolate_linear_uneven_spacing_and_alignment(spark):
    from opendosm_parquet_to_sqlite_spark.operators.temporal import (
        interpolate_linear,
    )

    # obs at 130 (v=0) and 430 (v=3): first tick = ceil(130/100)*100=200
    # v(200) = (200-130)/300*3 = 0.7; v(300)=1.7; v(400)=2.7
    df = spark.createDataFrame(
        [("k", 130, 0.0), ("k", 430, 3.0)], "k string, ts long, v double"
    )
    out = {
        r["grid_ts"]: r["value"]
        for r in interpolate_linear(df, ["k"], "ts", "v", 100).collect()
    }
    assert set(out) == {200, 300, 400}
    assert out[200] == pytest.approx(0.7, abs=1e-6)
    assert out[300] == pytest.approx(1.7, abs=1e-6)
    assert out[400] == pytest.approx(2.7, abs=1e-6)
