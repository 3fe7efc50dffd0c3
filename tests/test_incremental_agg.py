"""Incremental aggregates: monoid property over arbitrary batch splits
and SQL NULL semantics at finalize. Oracle parity of the composed query
runs in tests/test_oracle_parity.py (shadow oracle incremental_agg)."""

from __future__ import annotations

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
