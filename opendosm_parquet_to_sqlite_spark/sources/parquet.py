"""Parquet scan layer.

Reference equivalent: `execute()` at /root/reference/src/main.rs:60-66 — a
row-at-a-time full scan with no projection (`get_row_iter(None)`) and no
predicate pushdown. Here the scan is `spark.read.parquet`: vectorized,
columnar, with projection pruning and predicate pushdown supplied by Catalyst
for free. At 100 TB the difference is the whole ballgame — a query touching
2 of 11 lineitem columns reads ~18% of the bytes instead of 100%.

Schema handling (SURVEY §1.2): the reference trusts column *position*; we
declare a StructType and verify it against the parquet footer so upstream
schema drift fails loudly at plan time, not silently at read time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..schemas import TESTDATA_SCHEMAS


class SchemaDriftError(RuntimeError):
    """Raised when the file schema no longer matches the declared contract."""


def _verify_schema(declared: StructType, actual: StructType, table: str) -> None:
    declared_names = [f.name for f in declared.fields]
    actual_names = [f.name for f in actual.fields]
    if declared_names != actual_names:
        raise SchemaDriftError(
            f"table {table!r}: declared columns {declared_names} != file columns "
            f"{actual_names} — refusing positional read (the reference would have "
            "silently corrupted output here; see src/main.rs:20,30,48)"
        )


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Load one testdata table with footer verification.

    We deliberately let Spark use the file's own types (vectorized reader +
    pushdown work best on native types) and only *verify* column names/order
    against the declared contract. Casts, when needed, are explicit operators
    (operators.cleanse), mirroring the reference's load handlers.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Spark rejects INT64(TIMESTAMP(NANOS)) parquet columns outright; read
    # them as raw nanos and convert below (integer `div` — a double division
    # would lose precision above 2^53, i.e. for any post-1970 nano epoch).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    declared = schema or TESTDATA_SCHEMAS.get(name)
    if declared is not None:
        _verify_schema(declared, df.schema, name)
        for field in declared.fields:
            actual = df.schema[field.name].dataType
            if isinstance(field.dataType, (TimestampNTZType, TimestampType)) and isinstance(
                actual, LongType
            ):
                # timestampadd on an NTZ base yields TIMESTAMP_NTZ — the
                # naive wall time the file stores, independent of the
                # session timezone (timestamp_micros() would shift under a
                # non-UTC session tz and break oracle parity).
                df = df.withColumn(
                    field.name,
                    F.expr(
                        f"timestampadd(MICROSECOND, `{field.name}` div 1000, "
                        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )
    return df
