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
footer_schema reads that footer on the driver, so a caller can hand the
schema to spark.read.schema(...) and skip Spark's inference job.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
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


# Arrow types that Spark's parquet reader infers differently from pyspark's
# Arrow mapping (which rejects them): unsigned ints widen to the next signed
# type, UINT64 to decimal(20,0), and an all-NULL column reads as int.
_SPARK_READS = {
    pa.uint8(): ShortType(),
    pa.uint16(): IntegerType(),
    pa.uint32(): LongType(),
    pa.uint64(): DecimalType(20, 0),
    pa.null(): IntegerType(),
}


def footer_schema(path: str | Path, prefer_timestamp_ntz: bool = True) -> StructType:
    """The schema spark.read.parquet infers for one file, read from the
    file's footer on the driver instead of by a Spark job.

    Every field is nullable, as Spark's file reader makes it. INT96 is
    Spark's legacy instant type, so it maps to timestamp whatever Arrow
    type the footer restores. A naive timestamp maps to timestamp_ntz when
    prefer_timestamp_ntz (Spark's spark.sql.parquet.inferTimestampNTZ.enabled,
    on by default). Spark cannot read INT64 TIMESTAMP(NANOS), so such a
    column raises SchemaDriftError here, at plan time.
    """
    with pq.ParquetFile(path) as f:
        arrow = f.schema_arrow
        physical = {c.path: c.physical_type for c in f.schema}
    fields = []
    for col in arrow:
        if physical.get(col.name) == "INT96":
            spark_type = TimestampType()
        elif pa.types.is_timestamp(col.type) and col.type.unit == "ns":
            raise SchemaDriftError(
                f"{path}: column {col.name!r} is INT64 TIMESTAMP(NANOS), "
                "which Spark's parquet reader cannot read"
            )
        else:
            spark_type = _SPARK_READS.get(col.type) or from_arrow_type(
                col.type, prefer_timestamp_ntz
            )
        fields.append(StructField(col.name, spark_type, nullable=True))
    return StructType(fields)


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
