"""Parquet dataset export."""

from __future__ import annotations

from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.sinks.dataset import write_dataset
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import SF0001


def test_write_dataset_partitioned_and_sorted(spark, tmp_path):
    ev = load_table(spark, SF0001, "events")
    out = str(tmp_path / "ds")
    write_dataset(
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")),
        out,
        partition_by=["day"],
        sort_within_by=["user_id"],
    )
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # hive partition dirs exist, and each file holds its rows in user_id order
    days = [d.name for d in (tmp_path / "ds").iterdir() if d.name.startswith("day=")]
    assert len(days) >= 25  # a month of events
    import pyarrow.parquet as pq

    some_day = tmp_path / "ds" / days[0]
    for f in some_day.glob("*.parquet"):
        users = pq.read_table(f, columns=["user_id"]).column("user_id").to_pylist()
        assert users == sorted(users)
        assert pq.read_metadata(f).row_group(0).column(0).compression == "ZSTD"
