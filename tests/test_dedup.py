"""Property tests for the flagship latest_per_group (FIXTURES A.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import dedup
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import SF0001

pytestmark = pytest.mark.product


def _events(spark):
    return load_table(spark, SF0001, "events")


def test_unique_keys(spark):
    ev = _events(spark)
    out = dedup.latest_per_group(ev, ["user_id", "event_type"], "ts", ["event_id"])
    n = out.count()
    d = out.select("user_id", "event_type").distinct().count()
    assert n == d


def test_every_output_row_exists_in_input(spark):
    ev = _events(spark)
    out = dedup.latest_per_group(ev, ["user_id", "event_type"], "ts", ["event_id"])
    missing = out.join(ev, on=list(ev.columns), how="left_anti")
    assert missing.count() == 0


def test_date_is_max_per_key(spark):
    ev = _events(spark)
    out = dedup.latest_per_group(ev, ["user_id", "event_type"], "ts", ["event_id"])
    maxes = ev.groupBy("user_id", "event_type").agg(F.max("ts").alias("max_ts"))
    bad = out.join(maxes, ["user_id", "event_type"]).filter(
        F.col("ts") != F.col("max_ts")
    )
    assert bad.count() == 0


def test_window_and_maxby_agree(spark):
    ev = _events(spark)
    a = dedup.latest_per_group(ev, ["user_id", "event_type"], "ts", ["event_id"])
    b = dedup.latest_per_group_maxby(ev, ["user_id", "event_type"], "ts", ["event_id"])
    assert sorted(a.collect()) == sorted(b.collect())


def test_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01", 10.0), (1, "a", "2024-01-01", 20.0)],
        ["k", "g", "d", "v"],
    )
    out = dedup.latest_per_group(df, ["k", "g"], "d", tiebreak_cols=["v"])
    assert out.first()["v"] == 20.0  # highest tiebreak wins


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r["keep_id"]: r["dup_count"] for r in
           dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}
    kept = dedup.exact_dedup_keep_first(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_assert_unique_key(spark):
    import pytest

    df = spark.createDataFrame([(1,), (1,)], ["k"])
    with pytest.raises(ValueError, match="unique key"):
        dedup.assert_unique_key(df, ["k"])


def test_golden_record_per_column_survivorship(spark):
    from opendosm_parquet_to_sqlite_spark.operators.dedup import (
        golden_record,
    )

    df = spark.createDataFrame(
        [
            (1, 1, None, "b1"),
            (1, 2, "a2", "b2"),
            (1, 3, "a3", None),
            (2, 5, None, None),
        ],
        "k long, prio long, a string, b string",
    )
    out = {
        r.k: (r.a, r.b)
        for r in golden_record(df, "k", "prio", ["a", "b"]).collect()
    }
    # each column independently from its best non-null source
    assert out[1] == ("a2", "b1")
    # all-null key survives with NULLs, never invented or dropped
    assert out[2] == (None, None)


def test_golden_record_plan_is_single_partial_agg(spark):
    from opendosm_parquet_to_sqlite_spark.operators.dedup import (
        golden_record,
    )

    df = spark.createDataFrame(
        [(1, 1, "x")], "k long, prio long, a string"
    )
    plan = (
        golden_record(df, "k", "prio", ["a"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Window" not in plan


def test_dedup_time_window_chain_semantics(spark):
    from opendosm_parquet_to_sqlite_spark.operators.dedup import (
        dedup_within_time_window,
    )

    rows = [
        # chain of sub-window gaps: only the first survives
        ("k", 0, 1), ("k", 50, 2), ("k", 100, 3),
        # beyond the window from its predecessor: survives
        ("k", 300, 4),
        # other key unaffected
        ("j", 10, 5),
    ]
    df = spark.createDataFrame(rows, "k string, s long, id long")
    kept = sorted(
        r.id
        for r in dedup_within_time_window(
            df, "k", F.col("s"), 60, tiebreak_col="id"
        ).collect()
    )
    assert kept == [1, 4, 5]
