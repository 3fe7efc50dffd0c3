"""Incremental artifact maintenance: any sequence of streaming top-ups must
converge to the same SQLite contents as a from-scratch batch rebuild."""

from __future__ import annotations

import shutil
import sqlite3
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opendosm_parquet_to_sqlite_spark.plans import pipeline
from opendosm_parquet_to_sqlite_spark.plans.pipeline import cleanse_prices
from opendosm_parquet_to_sqlite_spark.operators import dedup
from opendosm_parquet_to_sqlite_spark.sinks.sqlite import REFERENCE_INDEXES, index_name
from opendosm_parquet_to_sqlite_spark.streaming import pipeline as stream_pipeline
from opendosm_parquet_to_sqlite_spark.streaming.pipeline import stream_prices_to_sqlite

pytestmark = pytest.mark.product


def _month_file(path, rows):
    pq.write_table(
        pa.table(
            {
                "date": pa.array([r[0] for r in rows], pa.timestamp("us")),
                "premise_code": pa.array([r[1] for r in rows]),
                "item_code": pa.array([r[2] for r in rows]),
                "price": pa.array([r[3] for r in rows]),
            }
        ),
        path,
    )


# A NULL price orders below any price at the same date, as in Spark's max_by
# over struct(date, price), whichever file brings it: (104,30) and (105,30).
M1 = [
    (datetime(2024, 1, 5), "101", "10", "5.50"),
    (datetime(2024, 1, 20), "101", "10", "6.00"),
    (datetime(2024, 1, 9), "102", "10", "7.00"),
    (datetime(2024, 1, 25), "104", "30", None),
    (datetime(2024, 1, 25), "105", "30", "2.00"),
]
M2 = [
    (datetime(2024, 2, 2), "101", "10", "6.50"),   # newer champion for (101,10)
    (datetime(2024, 2, 3), "103", "20", "3.30"),   # brand-new key
    (datetime(2024, 1, 25), "104", "30", "4.00"),  # beats the NULL champion
    (datetime(2024, 1, 25), "105", "30", None),    # loses to the stored 2.00
]


def _db_rows(db):
    con = sqlite3.connect(db)
    try:
        return sorted(con.execute("SELECT * FROM prices").fetchall())
    finally:
        con.close()


def _batch_rows(spark, *paths):
    """The batch rebuild's `prices` over the given parquet paths."""
    batch = dedup.latest_per_group_maxby(
        cleanse_prices(spark.read.parquet(*map(str, paths))),
        ["premise_code", "item_code"], "date", tiebreak_cols=["price"],
    )
    return sorted(
        (r["date"], r["premise_code"], r["item_code"], r["price"])
        for r in batch.collect()
    )


def test_incremental_runs_converge_to_batch_rebuild(spark, tmp_path):
    src = tmp_path / "months"
    src.mkdir()
    _month_file(src / "pricecatcher_2024-01.parquet", M1)
    schema = spark.read.parquet(str(src)).schema

    db = tmp_path / "prices.db"
    ckpt = tmp_path / "ckpt"
    stream_prices_to_sqlite(spark, src, db, ckpt, schema)
    assert _db_rows(db) == [
        ("2024-01-09", 102, 10, 7.0),
        ("2024-01-20", 101, 10, 6.0),
        ("2024-01-25", 104, 30, None),
        ("2024-01-25", 105, 30, 2.0),
    ]

    # idempotent: no new files → artifact untouched
    before = _db_rows(db)
    stream_prices_to_sqlite(spark, src, db, ckpt, schema)
    assert _db_rows(db) == before

    # month 2 lands: champion flip + new key, processed as a delta
    _month_file(src / "pricecatcher_2024-02.parquet", M2)
    stream_prices_to_sqlite(spark, src, db, ckpt, schema)
    got = _db_rows(db)

    # batch rebuild over ALL files must agree exactly
    assert got == _batch_rows(spark, src)
    assert ("2024-02-02", 101, 10, 6.5) in got
    assert ("2024-01-25", 104, 30, 4.0) in got
    assert ("2024-01-25", 105, 30, 2.0) in got


def _month_artifact(spark, tmp_path, rows):
    """build_artifact over a month of `rows` plus matching dimensions;
    returns (month parquet, .db)."""
    src = tmp_path / "src"
    src.mkdir()
    month = src / "pricecatcher_2024-01.parquet"
    _month_file(month, rows)
    premises = sorted({r[1] for r in rows})
    items = sorted({r[2] for r in rows})
    pq.write_table(
        pa.table({
            "premise_code": pa.array(premises),
            **{c: pa.array([c] * len(premises))
               for c in ("premise", "address", "premise_type", "state", "district")},
        }),
        src / "lookup_premise.parquet",
    )
    pq.write_table(
        pa.table({
            "item_code": pa.array(items),
            **{c: pa.array([c] * len(items))
               for c in ("item", "unit", "item_group", "item_category")},
        }),
        src / "lookup_item.parquet",
    )
    tables = pipeline.build_tables(
        spark, month, src / "lookup_premise.parquet", src / "lookup_item.parquet"
    )
    db, _zip, _counts = pipeline.build_artifact(tables, tmp_path / "out", "2024-01")
    return month, db


DAY = [
    (datetime(2024, 1, 25), "101", "10", "6.20"),  # newer than the month's champion
    (datetime(2024, 1, 1), "102", "10", "9.99"),   # late: older than the champion
    (datetime(2024, 1, 26), "103", "20", "3.30"),  # brand-new key
]


def _land_day(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _month_file(landing / "day_2024-01-26.parquet", DAY)
    return landing


def test_topup_of_shipped_month_artifact(spark, tmp_path):
    """The top-up pointed at the file users receive replaces champions in
    place: one row per key, equal to the batch rebuild, and the artifact
    keeps its reference indexes and integrity."""
    month, db = _month_artifact(spark, tmp_path, M1)
    landing = _land_day(tmp_path)
    schema = spark.read.parquet(str(landing)).schema

    stream_prices_to_sqlite(spark, landing, db, tmp_path / "ckpt", schema)

    con = sqlite3.connect(db)
    try:
        dupes = con.execute(
            "SELECT premise_code, item_code FROM prices "
            "GROUP BY premise_code, item_code HAVING count(*) > 1"
        ).fetchall()
        have = {r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type = 'index'"
        )}
        integrity = con.execute("PRAGMA integrity_check").fetchone()[0]
    finally:
        con.close()
    assert dupes == []
    assert _db_rows(db) == _batch_rows(spark, month, landing)
    assert ("2024-01-25", 101, 10, 6.2) in _db_rows(db)  # newer row won
    assert ("2024-01-09", 102, 10, 7.0) in _db_rows(db)  # late row lost
    reference = {
        index_name(t, c) for t, specs in REFERENCE_INDEXES.items() for c, _ in specs
    }
    assert len(reference) == 9 and reference <= have
    assert integrity == "ok"


def test_replay_after_checkpoint_loss_changes_nothing(spark, tmp_path):
    src = tmp_path / "months"
    src.mkdir()
    _month_file(src / "pricecatcher_2024-01.parquet", M1)
    _month_file(src / "pricecatcher_2024-02.parquet", M2)
    schema = spark.read.parquet(str(src)).schema
    db, ckpt = tmp_path / "prices.db", tmp_path / "ckpt"
    stream_prices_to_sqlite(spark, src, db, ckpt, schema)
    before = _db_rows(db)

    shutil.rmtree(ckpt)  # every file is merged a second time
    stream_prices_to_sqlite(spark, src, db, ckpt, schema)
    assert _db_rows(db) == before == _batch_rows(spark, src)


def test_failed_merge_leaves_file_and_next_run_applies_day_once(
    spark, tmp_path, monkeypatch
):
    month, db = _month_artifact(spark, tmp_path, M1)
    landing = _land_day(tmp_path)
    schema = spark.read.parquet(str(landing)).schema
    ckpt = tmp_path / "ckpt"
    shipped = db.read_bytes()

    real = stream_pipeline._insert_rows

    def fail_part_way(con, sql, df):
        real(con, sql, df.limit(1))
        assert con.total_changes > 0  # the failure comes after a write
        raise RuntimeError("merge interrupted")

    monkeypatch.setattr(stream_pipeline, "_insert_rows", fail_part_way)
    with pytest.raises(Exception, match="merge interrupted"):
        stream_prices_to_sqlite(spark, landing, db, ckpt, schema)
    assert db.read_bytes() == shipped
    assert not db.with_name(db.name + "-journal").exists()

    monkeypatch.undo()
    stream_prices_to_sqlite(spark, landing, db, ckpt, schema)
    applied = _db_rows(db)
    assert applied == _batch_rows(spark, month, landing)
    stream_prices_to_sqlite(spark, landing, db, ckpt, schema)  # nothing new
    assert _db_rows(db) == applied



def test_null_price_key_fails_topup_and_leaves_file(spark, tmp_path):
    """A day file with a NULL key fails the top-up and leaves the artifact
    byte-identical. SQLite's UNIQUE index treats NULLs as distinct, so an
    accepted NULL-keyed row would be appended again by every replay."""
    _month, db = _month_artifact(spark, tmp_path, M1)
    landing = tmp_path / "landing"
    landing.mkdir()
    _month_file(landing / "day_2024-01-26.parquet", DAY + [
        (datetime(2024, 1, 26), "101", None, "1.00"),
    ])
    schema = spark.read.parquet(str(landing)).schema
    ckpt = tmp_path / "ckpt"
    shipped = db.read_bytes()

    for _ in range(2):  # the second run is a replay after checkpoint loss
        with pytest.raises(Exception, match="NULL item_code in prices"):
            stream_prices_to_sqlite(spark, landing, db, ckpt, schema)
        assert db.read_bytes() == shipped
        assert not db.with_name(db.name + "-journal").exists()
        shutil.rmtree(ckpt, ignore_errors=True)
