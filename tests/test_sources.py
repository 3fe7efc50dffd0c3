"""Schema-contract tests for the parquet source layer."""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from opendosm_parquet_to_sqlite_spark.sources.parquet import (
    SchemaDriftError,
    load_table,
)

from .conftest import SF0001

pytestmark = pytest.mark.product


def test_verified_load(spark):
    df = load_table(spark, SF0001, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 5


def test_schema_drift_raises(spark):
    wrong = StructType(
        [StructField("not_a_col", LongType()), StructField("r_name", StringType())]
    )
    with pytest.raises(SchemaDriftError, match="positional read"):
        load_table(spark, SF0001, "region", schema=wrong)


def test_nanos_timestamp_rebuilt_tz_independent(spark):
    """events.ts is parquet TIMESTAMP(NANOS): read as long, rebuilt as NTZ.
    The result must not depend on the session timezone."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        df = load_table(spark, SF0001, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        utc = df.select(F.date_format("ts", "HH:mm:ss").alias("s")).first()["s"]
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kuala_Lumpur")
        kl = (
            load_table(spark, SF0001, "events")
            .select(F.date_format("ts", "HH:mm:ss").alias("s"))
            .first()["s"]
        )
        assert utc == kl
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
