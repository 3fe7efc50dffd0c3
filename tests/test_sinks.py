"""Tests for the SQLite + zip artifact sinks.

Reference behaviors covered: index DDL set (src/main.rs:192-207), the
backup-to-file export (src/main.rs:284-311 — here a direct streamed write),
and zip packaging (src/main.rs:312-325). Plus the sharded 100 TB path.
"""

from __future__ import annotations

import sqlite3
import zipfile

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.sinks.sqlite import (
    REFERENCE_INDEXES,
    write_sqlite,
    write_sqlite_sharded,
)
from opendosm_parquet_to_sqlite_spark.sinks.zipsink import zip_artifact


def test_write_sqlite_multibatch_contents_and_types(spark, tmp_path):
    """A table spanning many insert batches round-trips exactly; temporal
    columns land as ISO TEXT (the reference's date-as-string convention)."""
    n = 25_000  # >> batch_rows below, so the buffered path flushes repeatedly
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("val"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )
    db = tmp_path / "out.db"
    counts = write_sqlite({"t": df}, db, batch_rows=1_000)
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
        batch_rows=1_000,
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


def test_write_sqlite_sharded_union_equals_input(spark, tmp_path):
    """Shards are independently readable and their union is exactly the
    input — including a timestamp column (bound as TEXT, not datetime)."""
    df = spark.range(1000).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )
    shards = write_sqlite_sharded(df, tmp_path, "events", num_shards=4)
    assert len(shards) == 4
    seen = []
    for p in shards:
        con = sqlite3.connect(p)
        try:
            seen += con.execute("SELECT id, s, ts FROM events").fetchall()
        finally:
            con.close()
    assert len(seen) == 1000
    assert sorted(r[0] for r in seen) == list(range(1000))
    by_id = {r[0]: r for r in seen}
    assert by_id[3][1] == "v3"
    assert isinstance(by_id[3][2], str) and by_id[3][2].startswith("2023-11-14")


def test_write_sqlite_sharded_applies_index_ddl(spark, tmp_path):
    """Every shard carries the same index contract as the single-file
    driver path: PRAGMA index_list must match for the same index spec."""
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 10).alias("premise_code")
    )
    specs = [("premise_code", False), ("id", True)]
    shards = write_sqlite_sharded(
        df, tmp_path / "shards", "prices", num_shards=3, indexes=specs
    )
    single = tmp_path / "single.db"
    write_sqlite({"prices": df}, single, indexes={"prices": specs})
    con = sqlite3.connect(single)
    try:
        expect = {
            (r[1], r[2])  # (index name, unique flag)
            for r in con.execute("PRAGMA index_list('prices')").fetchall()
        }
    finally:
        con.close()
    assert expect  # the driver path did create indexes
    for p in shards:
        con = sqlite3.connect(p)
        try:
            got = {
                (r[1], r[2])
                for r in con.execute("PRAGMA index_list('prices')").fetchall()
            }
        finally:
            con.close()
        assert got == expect


def test_zip_artifact_roundtrip(tmp_path):
    src = tmp_path / "pricecatcher.db"
    src.write_bytes(b"sqlite-bytes" * 1000)
    z = zip_artifact(src, tmp_path / "pricecatcher.zip", arcname="pricecatcher.db")
    with zipfile.ZipFile(z) as zf:
        assert zf.namelist() == ["pricecatcher.db"]
        assert zf.read("pricecatcher.db") == src.read_bytes()
        info = zf.getinfo("pricecatcher.db")
        assert info.compress_type == zipfile.ZIP_DEFLATED


def test_compact_small_files_preserves_rows_and_shrinks(spark, tmp_path):
    from opendosm_parquet_to_sqlite_spark.sinks.dataset import (
        compact_small_files,
    )

    p = str(tmp_path / "frag")
    # simulate microbatch fragmentation: 40 tiny files
    df = spark.range(2000).withColumn("v", F.col("id") % 7)
    df.repartition(40).write.parquet(p)
    import glob

    assert len(glob.glob(p + "/*.parquet")) >= 40
    stats = compact_small_files(spark, p, target_file_rows=500)
    assert stats["rows"] == 2000
    assert stats["files_after"] == 4  # ceil(2000/500)
    back = spark.read.parquet(p)
    assert back.count() == 2000
    assert sorted(r.id for r in back.collect()) == list(range(2000))
    # no leftover temp/old dirs
    assert not glob.glob(p + ".compact") and not glob.glob(p + ".old")


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


def test_read_sqlite_roundtrip(spark, tmp_path):
    from opendosm_parquet_to_sqlite_spark.sinks.sqlite import (
        read_sqlite,
        write_sqlite,
    )

    df = spark.range(100).withColumn("v", F.col("id") * 2.0)
    db = str(tmp_path / "x.db")
    write_sqlite({"t": df}, db)
    back = read_sqlite(spark, db, "t")
    assert back.count() == 100
    assert back.agg(F.sum("v")).collect()[0][0] == float(sum(2 * i for i in range(100)))
    assert set(back.columns) == {"id", "v"}


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
