"""End-to-end pipeline test: synthetic PriceCatcher trio → SQLite artifact,
checked against a DuckDB oracle of the same transform.

Mirrors the reference's full main() (src/main.rs:159-328): cleanse-load,
flagship latest-per-(premise,item), unique-key enforcement, index DDL, zip,
cache-driven early exit.
"""

from __future__ import annotations

import sqlite3
import zipfile
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opendosm_parquet_to_sqlite_spark.plans import pipeline
from opendosm_parquet_to_sqlite_spark.sources import cache as cache_mod


@pytest.fixture()
def fixture_trio(tmp_path):
    """Dirty synthetic trio exercising every cleanse path (FIXTURES.md §A):
    string-typed codes, timestamps needing truncation, nulls → UNKNOWN,
    padded whitespace, an unparsable premise_code (row skipped), and
    duplicate (premise, item) keys across dates (flagship dedup)."""
    d = tmp_path / "src"
    d.mkdir()
    prices = pa.table(
        {
            "date": pa.array(
                [
                    datetime(2024, 1, 1, 9, 30),
                    datetime(2024, 1, 15, 12, 0),   # later → survives for (101,10)
                    datetime(2024, 1, 2, 8, 0),
                    datetime(2024, 1, 2, 8, 0),     # same key+date as next, price tie-break
                    datetime(2024, 1, 2, 8, 0),
                ],
                pa.timestamp("us"),
            ),
            "premise_code": pa.array(["101", "101", "102", "103", "103"]),
            "item_code": pa.array(["10", "10", "10", "20", "20"]),
            "price": pa.array(["5.50", "6.10", "7.00", "3.30", "3.90"]),
        }
    )
    premises = pa.table(
        {
            "premise_code": pa.array(["101.0", "102.4", "103.0", "abc"]),
            "premise": pa.array(["  Shop A ", None, "Shop C", "Ghost"]),
            "address": pa.array(["1 Road", "2 Road", None, "x"]),
            "premise_type": pa.array(["grocer", "market", "  hyper  ", "x"]),
            "state": pa.array(["Selangor", None, "Johor", "x"]),
            "district": pa.array(["PJ", "KL", "JB", "x"]),
        }
    )
    items = pa.table(
        {
            "item_code": pa.array(["10", "20"]),
            "item": pa.array(["  Milk ", None]),
            "unit": pa.array(["1l", "1kg"]),
            "item_group": pa.array(["dairy", None]),
            "item_category": pa.array(["drink", "food"]),
        }
    )
    pq.write_table(prices, d / "pricecatcher_2024-01.parquet")
    pq.write_table(premises, d / "lookup_premise.parquet")
    pq.write_table(items, d / "lookup_item.parquet")
    return d


def _oracle_tables(src_dir):
    """DuckDB re-statement of the cleanse + flagship transform."""
    con = duckdb.connect()
    prices = con.execute(
        f"""
        WITH cleansed AS (
            SELECT trim(strftime(date, '%Y-%m-%d')) AS date,
                   CAST(premise_code AS BIGINT) AS premise_code,
                   CAST(item_code AS BIGINT) AS item_code,
                   CAST(price AS DOUBLE) AS price
            FROM read_parquet('{src_dir}/pricecatcher_2024-01.parquet')
        )
        SELECT date, premise_code, item_code, price FROM (
            SELECT *, row_number() OVER (
                PARTITION BY premise_code, item_code
                ORDER BY date DESC, price DESC
            ) AS rn FROM cleansed
        ) WHERE rn = 1
        """
    ).fetchall()
    premises = con.execute(
        f"""
        SELECT CAST(round(TRY_CAST(premise_code AS DOUBLE)) AS BIGINT),
               trim(coalesce(premise, 'UNKNOWN')),
               trim(coalesce(address, 'UNKNOWN')),
               trim(coalesce(premise_type, 'UNKNOWN')),
               trim(coalesce(state, 'UNKNOWN')),
               trim(coalesce(district, 'UNKNOWN'))
        FROM read_parquet('{src_dir}/lookup_premise.parquet')
        WHERE TRY_CAST(premise_code AS DOUBLE) IS NOT NULL
        """
    ).fetchall()
    items = con.execute(
        f"""
        SELECT CAST(item_code AS BIGINT),
               trim(coalesce(item, 'UNKNOWN')),
               trim(coalesce(unit, 'UNKNOWN')),
               trim(coalesce(item_group, 'UNKNOWN')),
               trim(coalesce(item_category, 'UNKNOWN'))
        FROM read_parquet('{src_dir}/lookup_item.parquet')
        """
    ).fetchall()
    con.close()
    return prices, premises, items


def test_build_tables_matches_duckdb_oracle(spark, fixture_trio, tmp_path):
    tables = pipeline.build_tables(
        spark,
        prices_path=fixture_trio / "pricecatcher_2024-01.parquet",
        premises_path=fixture_trio / "lookup_premise.parquet",
        items_path=fixture_trio / "lookup_item.parquet",
    )
    db, z, counts = pipeline.build_artifact(tables, tmp_path / "out", "2024-01")

    o_prices, o_premises, o_items = _oracle_tables(fixture_trio)
    con = sqlite3.connect(db)
    try:
        got_prices = con.execute(
            "SELECT date, premise_code, item_code, price FROM prices"
        ).fetchall()
        got_premises = con.execute(
            "SELECT premise_code, premise, address, premise_type, state, district "
            "FROM premises"
        ).fetchall()
        got_items = con.execute(
            "SELECT item_code, item, unit, item_group, item_category FROM items"
        ).fetchall()
        n_idx = con.execute(
            "SELECT count(*) FROM sqlite_master WHERE type='index' AND sql IS NOT NULL"
        ).fetchone()[0]
    finally:
        con.close()

    assert sorted(got_prices) == sorted(o_prices)
    assert sorted(got_premises) == sorted(o_premises)
    assert sorted(got_items) == sorted(o_items)
    # flagship semantics spot-checks
    by_key = {(r[1], r[2]): r for r in got_prices}
    assert by_key[(101, 10)][0] == "2024-01-15"          # latest date wins
    assert by_key[(103, 20)][3] == 3.9                    # price tie-break
    assert (102, 10) in by_key and len(got_prices) == 3
    # dirty-premise row was skipped; 102.4 rounded to 102
    codes = sorted(r[0] for r in got_premises)
    assert codes == [101, 102, 103]
    # UNKNOWN + trim applied
    assert by_key is not None
    prem = {r[0]: r for r in got_premises}
    assert prem[101][1] == "Shop A"
    assert prem[102][1] == "UNKNOWN"
    # the reference's 9 indexes exist (src/main.rs:194-206)
    assert n_idx == 9
    # zip contains the db under the reference's arcname (src/main.rs:317)
    with zipfile.ZipFile(z) as zf:
        assert zf.namelist() == ["pricecatcher.db"]
    assert counts == {"prices": 3, "premises": 3, "items": 2}


def test_run_pipeline_offline_with_early_exit(spark, fixture_trio, tmp_path, monkeypatch):
    """Full run_pipeline with the network stubbed to serve the fixture files:
    first run builds, second run early-exits on all-fresh, force rebuilds."""
    served = {
        "lookup_item.parquet": fixture_trio / "lookup_item.parquet",
        "lookup_premise.parquet": fixture_trio / "lookup_premise.parquet",
        "pricecatcher_2024-01.parquet": fixture_trio / "pricecatcher_2024-01.parquet",
    }

    def fake_head(url, timeout):
        name = url.rsplit("/", 1)[1]
        data = served[name].read_bytes()
        return {"content-length": str(len(data)), "etag": f'"{name}-v1"'}

    def fake_download(url, dest, timeout):
        name = url.rsplit("/", 1)[1]
        data = served[name].read_bytes()
        dest.write_bytes(data)
        return {"content-length": str(len(data)), "etag": f'"{name}-v1"'}

    monkeypatch.setattr(cache_mod, "_head", fake_head)
    monkeypatch.setattr(cache_mod, "_download", fake_download)

    out, cache_dir = tmp_path / "out", tmp_path / "cache"
    r1 = pipeline.run_pipeline(spark, out, cache_dir, month="2024-01")
    assert not r1.skipped and r1.db_path.exists() and r1.zip_path.exists()
    assert r1.row_counts["prices"] == 3

    r2 = pipeline.run_pipeline(spark, out, cache_dir, month="2024-01")
    assert r2.skipped and r2.db_path is None

    r3 = pipeline.run_pipeline(spark, out, cache_dir, month="2024-01", force=True)
    assert not r3.skipped and r3.row_counts == r1.row_counts


def test_schema_drift_aborts(spark, fixture_trio, tmp_path):
    """A column reorder upstream aborts at plan time instead of silently
    corrupting output (the reference reads by position, src/main.rs:20)."""
    import pyarrow.parquet as pq2
    from opendosm_parquet_to_sqlite_spark.sources.parquet import SchemaDriftError

    t = pq2.read_table(fixture_trio / "lookup_item.parquet")
    drifted = t.select([1, 0, 2, 3, 4])  # swap first two columns
    d = tmp_path / "drift"
    d.mkdir()
    pq2.write_table(drifted, d / "lookup_item.parquet")
    with pytest.raises(SchemaDriftError, match="positional read"):
        pipeline.build_tables(
            spark,
            prices_path=fixture_trio / "pricecatcher_2024-01.parquet",
            premises_path=fixture_trio / "lookup_premise.parquet",
            items_path=d / "lookup_item.parquet",
        )


def test_unique_key_violation_aborts(spark, tmp_path):
    """A duplicate dimension key aborts the build — the reference's unique
    index insert unwrap (src/main.rs:42,57)."""
    d = tmp_path / "src"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "item_code": pa.array(["10", "10"]),
                "item": pa.array(["a", "b"]),
                "unit": pa.array(["u", "u"]),
                "item_group": pa.array(["g", "g"]),
                "item_category": pa.array(["c", "c"]),
            }
        ),
        d / "lookup_item.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "date": pa.array([datetime(2024, 1, 1)], pa.timestamp("us")),
                "premise_code": pa.array(["1"]),
                "item_code": pa.array(["10"]),
                "price": pa.array(["1.0"]),
            }
        ),
        d / "pricecatcher_2024-01.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "premise_code": pa.array(["1.0"]),
                "premise": pa.array(["p"]),
                "address": pa.array(["a"]),
                "premise_type": pa.array(["t"]),
                "state": pa.array(["s"]),
                "district": pa.array(["d"]),
            }
        ),
        d / "lookup_premise.parquet",
    )
    tables = pipeline.build_tables(
        spark,
        prices_path=d / "pricecatcher_2024-01.parquet",
        premises_path=d / "lookup_premise.parquet",
        items_path=d / "lookup_item.parquet",
    )
    with pytest.raises(ValueError, match="unique key violated"):
        pipeline.build_artifact(tables, tmp_path / "out", "2024-01")


def test_null_dimension_key_aborts(spark, fixture_trio, tmp_path):
    """A NULL item_code fails the build like a duplicate: SQLite's UNIQUE
    index admits repeated NULLs, so the sink looks for them explicitly."""
    d = tmp_path / "nullkey"
    d.mkdir()
    items = pq.read_table(fixture_trio / "lookup_item.parquet")
    codes = items.column("item_code").to_pylist()
    items = items.set_column(0, "item_code", pa.array([codes[0], None]))
    pq.write_table(items, d / "lookup_item.parquet")
    tables = pipeline.build_tables(
        spark,
        prices_path=fixture_trio / "pricecatcher_2024-01.parquet",
        premises_path=fixture_trio / "lookup_premise.parquet",
        items_path=d / "lookup_item.parquet",
    )
    with pytest.raises(ValueError, match="unique key violated"):
        pipeline.build_artifact(tables, tmp_path / "out", "2024-01")


def test_failed_build_keeps_last_good_artifact(spark, fixture_trio, tmp_path):
    """A build that fails part-way, in Spark or at the unique index, leaves
    the published .db and .zip byte-identical and no temporary files."""
    from pyspark.sql import functions as F

    tables = pipeline.build_tables(
        spark,
        prices_path=fixture_trio / "pricecatcher_2024-01.parquet",
        premises_path=fixture_trio / "lookup_premise.parquet",
        items_path=fixture_trio / "lookup_item.parquet",
    )
    out = tmp_path / "out"
    db, z, _ = pipeline.build_artifact(tables, out, "2024-01")
    published = {p.name: p.read_bytes() for p in (db, z)}

    # items is written last, so prices and premises are already in the file
    failing = dict(tables, items=tables["items"].withColumn(
        "item", F.raise_error(F.lit("upstream failure"))
    ))
    with pytest.raises(Exception, match="upstream failure"):
        pipeline.build_artifact(failing, out, "2024-01")
    assert {p.name: p.read_bytes() for p in out.iterdir()} == published

    duplicate = dict(tables, items=tables["items"].unionByName(tables["items"]))
    with pytest.raises(ValueError, match="unique key violated"):
        pipeline.build_artifact(duplicate, out, "2024-01")
    assert {p.name: p.read_bytes() for p in out.iterdir()} == published
