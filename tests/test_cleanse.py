"""Unit tests for the cleanse stack (reference semantics, SURVEY §2.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import cleanse

pytestmark = pytest.mark.product


@pytest.fixture()
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, "  padded  ", "1234.4"),
            (2, None, "1234.6"),
            (3, "ok", "-2.5"),
            (4, "x", "not_a_number"),
        ],
        ["id", "s", "code"],
    )


def test_null_default_unknown_and_trim(spark, dirty):
    out = dirty.select(cleanse.clean_string("s").alias("s")).collect()
    assert [r["s"] for r in out] == ["padded", "UNKNOWN", "ok", "x"]


def test_round_half_away_from_zero(spark, dirty):
    """Rust f64::round semantics (src/main.rs:36): .5 rounds away from zero."""
    out = dirty.select("id", cleanse.round_f64_to_i64("code").alias("c")).collect()
    got = {r["id"]: r["c"] for r in out}
    assert got[1] == 1234
    assert got[2] == 1235
    assert got[3] == -3  # away from zero, not banker's
    assert got[4] is None  # permissive cast → null


def test_strict_cast_throws_under_ansi(spark, dirty):
    """Spark 4 ANSI mode: strict cast IS the reference's panic
    (src/main.rs:24-26) — malformed input aborts the job."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    casted = dirty.withColumn("c", cleanse.cast_strict_double("code"))
    with pytest.raises(Exception) as ei:
        casted.collect()
    assert "CAST_INVALID_INPUT" in str(ei.value) or isinstance(
        ei.value, SparkRuntimeException
    )


def test_date_trunc10(spark):
    df = spark.createDataFrame([("2024-03-05 12:34:56",)], ["ts"]).select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    assert df.select(cleanse.date_trunc10("ts").alias("d")).first()["d"] == "2024-03-05"


def test_cleanse_idempotent(spark, dirty):
    """FIXTURES A.4: re-running the cleanse stack is a no-op."""
    once = dirty.select("id", cleanse.clean_string("s").alias("s"))
    twice = once.select("id", cleanse.clean_string("s").alias("s"))
    assert once.collect() == twice.collect()
