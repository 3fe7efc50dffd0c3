"""Parquet dataset export and schema evolution across parquet writes."""

from __future__ import annotations

from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.sinks.dataset import write_dataset
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import SF0001


def test_write_dataset_partitioned_and_bounded(spark, tmp_path):
    ev = load_table(spark, SF0001, "events")
    out = str(tmp_path / "ds")
    write_dataset(
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")),
        out,
        partition_by=["day"],
        target_file_rows=100,
        sort_within_by=["user_id"],
    )
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # hive partition dirs exist and files respect the row bound
    days = [d.name for d in (tmp_path / "ds").iterdir() if d.name.startswith("day=")]
    assert len(days) >= 25  # a month of events
    import pyarrow.parquet as pq

    some_day = tmp_path / "ds" / days[0]
    for f in some_day.glob("*.parquet"):
        assert pq.read_metadata(f).num_rows <= 100


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution across incremental writes: old files lack a
    column the new files carry. mergeSchema reconciles the footers into
    the union schema with NULL backfill — the guard the reference lacks
    entirely (its positional access would silently corrupt on any
    upstream schema change, SURVEY 1.2)."""
    p = str(tmp_path / "evolving")
    old = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    old.write.parquet(p)
    new = spark.createDataFrame(
        [(3, "c", 1.5), (4, "d", 2.5)], "id long, name string, score double"
    )
    new.write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows[1] == ("a", None)  # old rows: NULL backfill, not garbage
    assert rows[3] == ("c", 1.5)
    assert merged.count() == 4
    # column pruning still reaches the scan on the merged schema
    plan = (
        merged.select("id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ReadSchema: struct<id:bigint>" in plan
