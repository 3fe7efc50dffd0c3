"""Tests for the SQLite + zip artifact sinks.

Reference behaviors covered: index DDL set (src/main.rs:192-207), the
backup-to-file export (src/main.rs:284-311 — here a direct streamed write),
and zip packaging (src/main.rs:312-325).
"""

from __future__ import annotations

import os
import sqlite3
import zipfile

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.sinks.sqlite import (
    REFERENCE_INDEXES,
    write_sqlite,
)
from opendosm_parquet_to_sqlite_spark.sinks.zipsink import DEFLATE_LEVEL, zip_artifact

pytestmark = pytest.mark.product


def test_write_sqlite_multibatch_contents_and_types(spark, tmp_path):
    """A table spanning many insert batches round-trips exactly; temporal
    columns land as ISO TEXT (the reference's date-as-string convention)."""
    n = 25_000  # several BATCH_ROWS, so the buffered path flushes repeatedly
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("val"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )
    db = tmp_path / "out.db"
    counts = write_sqlite({"t": df}, db)
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT count(*) FROM t").fetchone()[0] == n
        assert counts == {"t": n}
        assert con.execute("SELECT sum(id) FROM t").fetchone()[0] == n * (n - 1) // 2
        row = con.execute(
            "SELECT id, val, name, ts FROM t WHERE id = 7"
        ).fetchone()
        assert row[0] == 7 and row[1] == 17.5 and row[2] == "name_7"
        assert isinstance(row[3], str) and row[3].startswith("2023-11-14")
    finally:
        con.close()


def test_write_sqlite_reference_index_ddl(spark, tmp_path):
    """The emitted index set matches the reference DDL (src/main.rs:194-206):
    unique on dimension keys, non-unique on fact join keys + filter columns."""
    prices = spark.createDataFrame(
        [("2024-01-01", 1, 10, 5.5)], "date string, premise_code long, item_code long, price double"
    )
    premises = spark.createDataFrame(
        [(1, "shop", "addr", "grocer", "Selangor", "PJ")],
        "premise_code long, premise string, address string, premise_type string, state string, district string",
    )
    items = spark.createDataFrame(
        [(10, "milk", "1l", "dairy", "drink")],
        "item_code long, item string, unit string, item_group string, item_category string",
    )
    db = tmp_path / "pc.db"
    write_sqlite(
        {"prices": prices, "premises": premises, "items": items},
        db,
        indexes=REFERENCE_INDEXES,
    )
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
    """A freshly written artifact, several tables with indexes over many
    insert batches, has no free pages and passes quick_check, so the
    sink skips VACUUM."""
    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 97).alias("g"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    db = tmp_path / "fresh.db"
    write_sqlite(
        {"a": df, "b": df.filter(F.col("g") < 50)},
        db,
        indexes={"a": [("id", True), ("g", False)], "b": [("s", False)]},
    )
    con = sqlite3.connect(db)
    try:
        assert con.execute("PRAGMA freelist_count").fetchone()[0] == 0
        assert con.execute("PRAGMA quick_check").fetchone()[0] == "ok"
    finally:
        con.close()


@pytest.mark.parametrize("keys", [[1, 2, 2], [1, None, None]], ids=["duplicate", "null"])
def test_write_sqlite_unique_index_rejects_bad_keys(spark, tmp_path, keys):
    """A unique index spec makes the column a key: a duplicate (caught by
    CREATE UNIQUE INDEX) or a NULL (which SQLite's UNIQUE admits) raises."""
    df = spark.createDataFrame([(k, "x") for k in keys], "k long, v string")
    with pytest.raises(ValueError, match=r"unique key violated on t\.k"):
        write_sqlite({"t": df}, tmp_path / "k.db", indexes={"t": [("k", True)]})


def test_zip_artifact_roundtrip(tmp_path):
    src = tmp_path / "pricecatcher.db"
    src.write_bytes(b"sqlite-bytes" * 1000)
    z = zip_artifact(src, tmp_path / "pricecatcher.zip", arcname="pricecatcher.db")
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
        z = zip_artifact(src, tmp_path / f"{n}.zip", arcname="pricecatcher.db")
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
    import sqlite3

    from opendosm_parquet_to_sqlite_spark.sinks.sqlite import (
        verify_sqlite_artifact,
        write_sqlite,
    )

    df = spark.range(10)
    db = str(tmp_path / "a.db")
    write_sqlite({"t": df}, db)
    con = sqlite3.connect(db)
    con.execute("CREATE INDEX idx_t_id ON t (id)")
    con.commit()
    con.close()
    ok = verify_sqlite_artifact(db, {"t": 10}, ["idx_t_id"])
    assert ok["ok"] and ok["integrity"] == "ok"
    bad_count = verify_sqlite_artifact(db, {"t": 11}, [])
    assert not bad_count["ok"]
    bad_idx = verify_sqlite_artifact(db, {"t": 10}, ["missing_idx"])
    assert not bad_idx["ok"] and bad_idx["missing_indexes"] == ["missing_idx"]
