"""Tests for the SQLite + zip artifact sinks.

Reference behaviors covered: the artifact's three tables and index DDL set
(src/main.rs:192-207), the backup-to-file export (src/main.rs:284-311 —
here a direct streamed write), and zip packaging (src/main.rs:312-325).
The sink writes only that artifact, so every case here writes the product
tables.
"""

from __future__ import annotations

import os
import sqlite3
import zipfile
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from opendosm_parquet_to_sqlite_spark.plans.pipeline import build_tables
from opendosm_parquet_to_sqlite_spark.sinks.sqlite import (
    table_ddl,
    verify_sqlite_artifact,
    write_sqlite,
)
from opendosm_parquet_to_sqlite_spark.sinks.zipsink import DEFLATE_LEVEL, zip_artifact

pytestmark = pytest.mark.product


def _prices(spark, n: int):
    """n distinct-key `prices` rows, as the month build leaves them."""
    return spark.range(n).select(
        F.format_string("2024-01-%02d", F.col("id") % 28 + 1).alias("date"),
        F.col("id").alias("premise_code"),
        (F.col("id") % 97).alias("item_code"),
        (F.col("id") * 2.5).alias("price"),
    )


def _premises(spark, codes):
    return spark.createDataFrame(
        [(c, f"shop {i}", "addr", "grocer", "Selangor", "PJ") for i, c in enumerate(codes)],
        "premise_code long, premise string, address string, premise_type string, "
        "state string, district string",
    )


def _items(spark, codes):
    return spark.createDataFrame(
        [(c, f"item {i}", "1l", "dairy", "drink") for i, c in enumerate(codes)],
        "item_code long, item string, unit string, item_group string, item_category string",
    )


def _artifact(spark, db, n_prices: int = 10, n_dims: int = 3) -> dict[str, int]:
    return write_sqlite(
        {
            "prices": _prices(spark, n_prices),
            "premises": _premises(spark, range(n_dims)),
            "items": _items(spark, range(n_dims)),
        },
        db,
    )


def test_write_sqlite_multibatch_contents_and_types(spark, tmp_path):
    """A prices table spanning many insert batches round-trips exactly,
    each column with its SQLite storage class."""
    n = 25_000  # several BATCH_ROWS, so the insert loop runs repeatedly
    db = tmp_path / "out.db"
    counts = write_sqlite({"prices": _prices(spark, n)}, db)
    con = sqlite3.connect(db)
    try:
        assert counts == {"prices": n}
        assert con.execute("SELECT count(*) FROM prices").fetchone()[0] == n
        assert (
            con.execute("SELECT sum(premise_code) FROM prices").fetchone()[0]
            == n * (n - 1) // 2
        )
        row = con.execute(
            "SELECT date, premise_code, item_code, price, typeof(date), "
            "typeof(premise_code), typeof(item_code), typeof(price) "
            "FROM prices WHERE premise_code = 7"
        ).fetchone()
        assert row == ("2024-01-08", 7, 7, 17.5, "text", "integer", "integer", "real")
    finally:
        con.close()


def test_write_sqlite_reference_index_ddl(spark, tmp_path):
    """The emitted index set matches the reference DDL (src/main.rs:194-206)
    without the caller naming it: unique on dimension keys, non-unique on
    fact join keys + filter columns."""
    db = tmp_path / "pc.db"
    _artifact(spark, db)
    con = sqlite3.connect(db)
    try:
        idx = {
            (r[0], r[1]): r[2]
            for r in con.execute(
                "SELECT tbl_name, name, sql FROM sqlite_master WHERE type='index' AND sql IS NOT NULL"
            )
        }
        expect_unique = {("premises", "idx_premises_premise_code"),
                         ("items", "idx_items_item_code")}
        expect_plain = {("prices", "idx_prices_premise_code"),
                        ("prices", "idx_prices_item_code"),
                        ("premises", "idx_premises_premise_type"),
                        ("premises", "idx_premises_state"),
                        ("premises", "idx_premises_district"),
                        ("items", "idx_items_item_group"),
                        ("items", "idx_items_item_category")}
        assert expect_unique | expect_plain == set(idx)
        for key in expect_unique:
            assert "UNIQUE" in idx[key]
        for key in expect_plain:
            assert "UNIQUE" not in idx[key]
    finally:
        con.close()


def test_write_sqlite_fresh_file_needs_no_vacuum(spark, tmp_path):
    """A freshly written artifact, all three tables with their indexes over
    many insert batches, has no free pages and passes quick_check, so the
    sink skips VACUUM."""
    db = tmp_path / "fresh.db"
    _artifact(spark, db, n_prices=20_000, n_dims=12_000)
    con = sqlite3.connect(db)
    try:
        assert con.execute("PRAGMA freelist_count").fetchone()[0] == 0
        assert con.execute("PRAGMA quick_check").fetchone()[0] == "ok"
    finally:
        con.close()


@pytest.mark.parametrize("keys", [[1, 2, 2], [1, None, None]], ids=["duplicate", "null"])
def test_write_sqlite_unique_index_rejects_bad_keys(spark, tmp_path, keys):
    """The dimension keys are keys: a duplicate (caught by CREATE UNIQUE
    INDEX) or a NULL (which SQLite's UNIQUE admits) in items.item_code or
    premises.premise_code raises."""
    for table, frame in (("items", _items), ("premises", _premises)):
        key = f"{table[:-1]}_code"
        with pytest.raises(ValueError, match=rf"unique key violated on {table}\.{key}"):
            write_sqlite({table: frame(spark, keys)}, tmp_path / f"{table}.db")


def test_table_ddl_pins_the_cleansed_schemas(tmp_path, spark):
    """The three tables' DDL, from the schemas build_tables produces out of
    file-native source types (string codes, a naive timestamp date, a
    float premise code). These strings fix the artifact's bytes."""
    src = {
        "prices": pa.table({
            "date": pa.array([datetime(2024, 1, 1, 9, 30)], pa.timestamp("us")),
            "premise_code": ["101"], "item_code": ["10"], "price": ["5.50"],
        }),
        "premises": pa.table({
            "premise_code": [101.0], "premise": ["a"], "address": ["b"],
            "premise_type": ["c"], "state": ["d"], "district": ["e"],
        }),
        "items": pa.table({
            "item_code": ["10"], "item": ["a"], "unit": ["b"],
            "item_group": ["c"], "item_category": ["d"],
        }),
    }
    for name, table in src.items():
        pq.write_table(table, tmp_path / f"{name}.parquet")
    tables = build_tables(
        spark, *(tmp_path / f"{name}.parquet" for name in ("prices", "premises", "items"))
    )
    assert {t: table_ddl(t, df.schema) for t, df in tables.items()} == {
        "prices": 'CREATE TABLE IF NOT EXISTS "prices" ("date" TEXT, '
        '"premise_code" INTEGER, "item_code" INTEGER, "price" REAL)',
        "premises": 'CREATE TABLE IF NOT EXISTS "premises" ("premise_code" INTEGER, '
        '"premise" TEXT, "address" TEXT, "premise_type" TEXT, "state" TEXT, '
        '"district" TEXT)',
        "items": 'CREATE TABLE IF NOT EXISTS "items" ("item_code" INTEGER, '
        '"item" TEXT, "unit" TEXT, "item_group" TEXT, "item_category" TEXT)',
    }


@pytest.mark.parametrize("dtype", [TimestampType(), BooleanType()], ids=["timestamp", "boolean"])
def test_table_ddl_rejects_types_the_cleanse_does_not_produce(dtype):
    """Only long, double and string columns reach the artifact; any other
    type raises instead of being written as TEXT."""
    schema = StructType([StructField("premise_code", LongType()), StructField("x", dtype)])
    with pytest.raises(TypeError, match=rf"prices\.x is {dtype.typeName()}"):
        table_ddl("prices", schema)


def test_zip_artifact_roundtrip(tmp_path):
    """The member is pricecatcher.db whatever the .db's file name."""
    src = tmp_path / "pricecatcher_2024-01.db"
    src.write_bytes(b"sqlite-bytes" * 1000)
    z = zip_artifact(src, tmp_path / "pricecatcher.zip")
    with zipfile.ZipFile(z) as zf:
        assert zf.namelist() == ["pricecatcher.db"]
        assert zf.read("pricecatcher.db") == src.read_bytes()
        info = zf.getinfo("pricecatcher.db")
        assert info.compress_type == zipfile.ZIP_DEFLATED


def test_zip_artifact_is_deterministic(tmp_path):
    """The same .db zips to the same bytes whatever its mtime, and to as
    many bytes as ZipFile.write at DEFLATE_LEVEL: only the stamp differs."""
    src = tmp_path / "pricecatcher.db"
    src.write_bytes(
        b"".join(b"%08d,shop %d,%d.50\n" % (i, i % 97, i % 13) for i in range(50_000))
    )
    zips = []
    for n, mtime in enumerate((1_700_000_000, 1_710_000_000)):
        os.utime(src, (mtime, mtime))
        z = zip_artifact(src, tmp_path / f"{n}.zip")
        zips.append(z.read_bytes())
    assert zips[0] == zips[1]
    with zipfile.ZipFile(
        tmp_path / "write.zip", "w", zipfile.ZIP_DEFLATED, compresslevel=DEFLATE_LEVEL
    ) as z:
        z.write(src, "pricecatcher.db")
    assert len(zips[0]) == (tmp_path / "write.zip").stat().st_size
    with zipfile.ZipFile(tmp_path / "0.zip") as z:
        assert z.getinfo("pricecatcher.db").date_time == (1980, 1, 1, 0, 0, 0)
        assert z.read("pricecatcher.db") == src.read_bytes()


def test_partitioned_dataset_prunes_at_scan(spark, tmp_path):
    """write_dataset(partition_by=...) must yield reads that prune
    partitions at the SCAN (PartitionFilters in the plan), not filter
    after reading everything — the claim the module docstring makes."""
    from opendosm_parquet_to_sqlite_spark.sinks.dataset import write_dataset

    p = str(tmp_path / "parted")
    df = spark.range(1000).withColumn("part", (F.col("id") % 5).cast("string"))
    write_dataset(df, p, partition_by=["part"])
    import glob

    assert len(glob.glob(p + "/part=*")) == 5  # hive layout on disk
    scan = spark.read.parquet(p).filter(F.col("part") == "3")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan.split(
        "PartitionFilters"
    )[1][:80]
    assert scan.count() == 200


def test_verify_sqlite_artifact_gates(spark, tmp_path):
    db = str(tmp_path / "a.db")
    counts = _artifact(spark, db)
    ok = verify_sqlite_artifact(db, counts)
    assert ok == {"ok": True, "counts": counts, "integrity": "ok"}
    bad_count = verify_sqlite_artifact(db, {**counts, "items": counts["items"] + 1})
    assert not bad_count["ok"]
