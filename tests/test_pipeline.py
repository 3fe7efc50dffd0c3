"""End-to-end pipeline test: synthetic PriceCatcher trio → SQLite artifact,
checked against a DuckDB oracle of the same transform.

Mirrors the reference's full main() (src/main.rs:159-328): cleanse-load,
flagship latest-per-(premise,item), unique-key enforcement, index DDL, zip,
and the early exit, which the published pair decides.
"""

from __future__ import annotations

import sqlite3
import time
import uuid
import zipfile
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opendosm_parquet_to_sqlite_spark.__main__ import main
from opendosm_parquet_to_sqlite_spark.plans import pipeline
from opendosm_parquet_to_sqlite_spark.sources import cache as cache_mod
from opendosm_parquet_to_sqlite_spark.sources.parquet import (
    SchemaDriftError,
    footer_schema,
)

pytestmark = pytest.mark.product


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


@pytest.mark.parametrize(
    "history, rebuilds",
    [
        (["build"], False),
        (["fail"], True),
        (["build", "new_etag", "fail"], True),
        (["build", "rm_db"], True),
        (["build", "rm_zip"], True),
        (["build", "offline"], False),
        (["fail", "offline"], True),
    ],
    ids=[
        "unchanged",
        "failed-build",
        "old-pair-new-etag-failed-build",
        "db-deleted",
        "zip-deleted",
        "offline-with-pair",
        "offline-without-pair",
    ],
)
def test_run_pipeline_offline_with_early_exit(
    spark, fixture_trio, tmp_path, monkeypatch, history, rebuilds
):
    """Full run_pipeline with the network stubbed to serve the fixture files.
    The published pair decides the early exit (make's rule): a run skips only
    when the .db and the .zip both exist and are newer than every cached
    source. After each history, the next run rebuilds or skips as the case
    says, the run after it skips, and force rebuilds."""
    served = {
        "lookup_item.parquet": fixture_trio / "lookup_item.parquet",
        "lookup_premise.parquet": fixture_trio / "lookup_premise.parquet",
        "pricecatcher_2024-01.parquet": fixture_trio / "pricecatcher_2024-01.parquet",
    }
    etags = {name: f'"{name}-v1"' for name in served}
    online = [True]

    def fake_head(url, timeout):
        if not online[0]:
            raise OSError("network unreachable")
        name = url.rsplit("/", 1)[1]
        data = served[name].read_bytes()
        return {"content-length": str(len(data)), "etag": etags[name]}

    def fake_download(url, dest, timeout):
        name = url.rsplit("/", 1)[1]
        data = served[name].read_bytes()
        dest.write_bytes(data)
        return {"content-length": str(len(data)), "etag": etags[name]}

    monkeypatch.setattr(cache_mod, "_head", fake_head)
    monkeypatch.setattr(cache_mod, "_download", fake_download)

    out, cache_dir = tmp_path / "out", tmp_path / "cache"
    db, z = out / "pricecatcher_2024-01.db", out / "pricecatcher.zip"
    counts = {"prices": 3, "premises": 3, "items": 2}

    def run(**kw):
        return pipeline.run_pipeline(spark, out, cache_dir, month="2024-01", **kw)

    def build():
        r = run()
        assert not r.skipped and (r.db_path, r.zip_path) == (db, z)
        assert r.row_counts == counts

    def fail():
        # the sources are downloaded, then the build fails
        pair = {p: p.read_bytes() for p in (db, z) if p.exists()}

        def broken(*a, **k):
            raise RuntimeError("build failed after the download")

        with monkeypatch.context() as m:
            m.setattr(pipeline, "build_tables", broken)
            with pytest.raises(RuntimeError, match="build failed"):
                run()
        assert {p: p.read_bytes() for p in (db, z) if p.exists()} == pair

    def new_etag():
        etags["lookup_item.parquet"] = '"lookup_item.parquet-v2"'

    def offline():
        online[0] = False

    steps = {
        "build": build,
        "fail": fail,
        "new_etag": new_etag,
        "rm_db": db.unlink,
        "rm_zip": z.unlink,
        "offline": offline,
    }
    for step in history:
        steps[step]()

    if rebuilds:
        build()
    else:
        pair = [(p.stat().st_ino, p.read_bytes()) for p in (db, z)]
        r = run()
        assert r.skipped and r.db_path is None
        assert [(p.stat().st_ino, p.read_bytes()) for p in (db, z)] == pair

    assert run().skipped
    r = run(force=True)
    assert not r.skipped and r.row_counts == counts


def test_cli_builds_skips_when_fresh_and_force_rebuilds(
    spark, fixture_trio, tmp_path, capsys
):
    """The product CLI, offline over file:// sources laid out as the real
    host serves them: the first run builds the .db and the .zip, a second
    run finds both newer than every cached source and leaves them alone,
    --force rebuilds them."""
    served = tmp_path / "served"
    served.mkdir()
    fixture_trio.rename(served / "pricecatcher")
    out = tmp_path / "out"
    argv = [
        "--month", "2024-01", "--base-url", f"file://{served}",
        "--out-dir", str(out), "--cache-dir", str(tmp_path / "cache"),
    ]
    db, z = out / "pricecatcher_2024-01.db", out / "pricecatcher.zip"

    assert main(argv) == 0
    assert capsys.readouterr().out.startswith(f"built {db}")
    with zipfile.ZipFile(z) as zf:
        assert zf.read("pricecatcher.db") == db.read_bytes()
    built = [(p.stat().st_ino, p.stat().st_mtime_ns, p.read_bytes()) for p in (db, z)]

    assert main(argv) == 0
    assert capsys.readouterr().out == "Data up-to-date — artifact not rebuilt.\n"
    assert [(p.stat().st_ino, p.stat().st_mtime_ns, p.read_bytes()) for p in (db, z)] == built

    assert main([*argv, "--force"]) == 0
    assert capsys.readouterr().out.startswith(f"built {db}")
    assert db.stat().st_ino != built[0][0] and z.stat().st_ino != built[1][0]
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT count(*) FROM prices").fetchone()[0] == 3
    finally:
        con.close()


@contextmanager
def _launches_no_spark_job(spark):
    """Fail unless the body launches no Spark job. Each job started under
    a probe job group is recorded by the status store in event order, so a
    fence job run afterwards in its own group, once seen there, means any
    job of the probe group would be seen too."""
    sc = spark.sparkContext
    group = f"no-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "must launch no Spark job")
    try:
        yield
    finally:
        sc.setJobGroup(f"{group}-fence", "fence")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-fence"):
        assert time.monotonic() < deadline, "fence job never reached the status store"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group) == []


def test_build_tables_launches_no_spark_job(spark, fixture_trio):
    """Planning reads each schema from the parquet footer on the driver;
    a schema-inferring spark.read.parquet would launch a job per file."""
    with _launches_no_spark_job(spark):
        pipeline.build_tables(
            spark,
            prices_path=fixture_trio / "pricecatcher_2024-01.parquet",
            premises_path=fixture_trio / "lookup_premise.parquet",
            items_path=fixture_trio / "lookup_item.parquet",
        )


def _type_matrix(d):
    """One file per footer shape whose Spark type the build must get right:
    every primitive PriceCatcher could plausibly ship, REQUIRED columns,
    INT96, and the benchmark's dirty trio (float premise codes with NULLs,
    string item and price codes, naive timestamp[us])."""
    ts = [datetime(2024, 1, 1, 9, 30), None]
    files = {
        "primitives": pa.table({
            "d32": pa.array([date(2024, 1, 1), None], pa.date32()),
            "ts_us": pa.array(ts, pa.timestamp("us")),
            "ts_ms": pa.array(ts, pa.timestamp("ms")),
            "ts_us_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "ts_ms_utc": pa.array(ts, pa.timestamp("ms", tz="UTC")),
            "ts_us_kl": pa.array(ts, pa.timestamp("us", tz="Asia/Kuala_Lumpur")),
            "i8": pa.array([1, None], pa.int8()),
            "i16": pa.array([1, None], pa.int16()),
            "i32": pa.array([1, None], pa.int32()),
            "i64": pa.array([1, None], pa.int64()),
            "u8": pa.array([1, None], pa.uint8()),
            "u16": pa.array([1, None], pa.uint16()),
            "u32": pa.array([1, None], pa.uint32()),
            "u64": pa.array([1, None], pa.uint64()),
            "f32": pa.array([1.5, None], pa.float32()),
            "f64": pa.array([1.5, None], pa.float64()),
            "bool": pa.array([True, None]),
            "str": pa.array(["a", None]),
            "large_str": pa.array(["a", None], pa.large_string()),
            "dict_str": pa.array(["a", None]).dictionary_encode(),
            "dec": pa.array([Decimal("1.23"), None], pa.decimal128(9, 2)),
            "dec38": pa.array([Decimal("1.23"), None], pa.decimal128(38, 2)),
            "bin": pa.array([b"x", None]),
            "all_null": pa.array([None, None], pa.null()),
        }),
        "required": pa.table(
            {"code": [1, 2], "name": ["a", "b"]},
            schema=pa.schema([
                pa.field("code", pa.int64(), nullable=False),
                pa.field("name", pa.string(), nullable=False),
            ]),
        ),
        "prices": pa.table({
            "date": pa.array(ts, pa.timestamp("us")),
            "premise_code": pa.array(["101", "102"]),
            "item_code": pa.array(["10", None]),
            "price": pa.array(["5.50", "6.10"]),
        }),
        "premises": pa.table({
            "premise_code": pa.array([101.0, None], pa.float64()),
            "premise": pa.array(["Shop", None]),
        }),
    }
    paths = {}
    for name, table in files.items():
        paths[name] = d / f"{name}.parquet"
        pq.write_table(table, paths[name])
    paths["int96"] = d / "int96.parquet"
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), paths["int96"],
        use_deprecated_int96_timestamps=True,
    )
    return paths


@pytest.mark.parametrize("infer_ntz", [True, False])
def test_footer_schema_matches_spark_inference(spark, tmp_path, infer_ntz):
    """The schema build_tables reads from the footer is the one
    spark.read.parquet infers, type and nullability, under either setting
    of the session's naive-timestamp inference."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, str(infer_ntz).lower())
    try:
        for name, path in _type_matrix(tmp_path).items():
            assert footer_schema(path, prefer_timestamp_ntz=infer_ntz) == (
                spark.read.parquet(str(path)).schema
            ), name
    finally:
        spark.conf.set(conf, before)


def test_schema_drift_aborts(spark, fixture_trio, tmp_path):
    """A column reorder upstream aborts at plan time, from the footer and
    before any Spark job, instead of silently corrupting output (the
    reference reads by position, src/main.rs:20)."""
    t = pq.read_table(fixture_trio / "lookup_item.parquet")
    drifted = t.select([1, 0, 2, 3, 4])  # swap first two columns
    d = tmp_path / "drift"
    d.mkdir()
    pq.write_table(drifted, d / "lookup_item.parquet")
    with _launches_no_spark_job(spark), pytest.raises(
        SchemaDriftError, match="positional read"
    ):
        pipeline.build_tables(
            spark,
            prices_path=fixture_trio / "pricecatcher_2024-01.parquet",
            premises_path=fixture_trio / "lookup_premise.parquet",
            items_path=d / "lookup_item.parquet",
        )


def test_nanosecond_prices_fail_the_run_and_keep_last_good_pair(
    spark, fixture_trio, tmp_path
):
    """Spark cannot read INT64 TIMESTAMP(NANOS); a prices file that ships
    one fails run_pipeline and leaves the published .db and .zip as they
    were."""
    served = tmp_path / "served"
    served.mkdir()
    fixture_trio.rename(served / "pricecatcher")
    out, cache_dir = tmp_path / "out", tmp_path / "cache"
    base_url = f"file://{served}"
    r = pipeline.run_pipeline(spark, out, cache_dir, "2024-01", base_url=base_url)
    published = {p.name: p.read_bytes() for p in (r.db_path, r.zip_path)}

    prices_file = served / "pricecatcher" / "pricecatcher_2024-01.parquet"
    prices = pq.read_table(prices_file)
    pq.write_table(
        prices.set_column(0, "date", prices.column("date").cast(pa.timestamp("ns"))),
        prices_file,
    )
    with pytest.raises(SchemaDriftError, match=r"TIMESTAMP\(NANOS\)"):
        pipeline.run_pipeline(
            spark, out, cache_dir, "2024-01", base_url=base_url, force=True
        )
    assert {p.name: p.read_bytes() for p in out.iterdir()} == published


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
    """A build that fails part-way, in Spark, at the unique index or on a
    NULL price key, leaves the published .db and .zip byte-identical and
    no temporary files."""
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

    # items is written last, so prices and premises are already in the file.
    # The cast keeps the column a string, a type the artifact holds, so the
    # failure comes from Spark while the rows are inserted.
    failing = dict(tables, items=tables["items"].withColumn(
        "item", F.raise_error(F.lit("upstream failure")).cast("string")
    ))
    with pytest.raises(Exception, match="upstream failure"):
        pipeline.build_artifact(failing, out, "2024-01")
    assert {p.name: p.read_bytes() for p in out.iterdir()} == published

    duplicate = dict(tables, items=tables["items"].unionByName(tables["items"]))
    with pytest.raises(ValueError, match="unique key violated"):
        pipeline.build_artifact(duplicate, out, "2024-01")
    assert {p.name: p.read_bytes() for p in out.iterdir()} == published

    # a NULL item_code in prices: max_by would keep one row for the
    # NULL-keyed group, so the cleanse fails the run as the reference does
    d = tmp_path / "nullprice"
    d.mkdir()
    prices = pq.read_table(fixture_trio / "pricecatcher_2024-01.parquet")
    codes = prices.column("item_code").to_pylist()
    prices = prices.set_column(
        prices.schema.get_field_index("item_code"), "item_code",
        pa.array(codes[:-1] + [None], pa.string()),
    )
    pq.write_table(prices, d / "pricecatcher_2024-01.parquet")
    null_key = pipeline.build_tables(
        spark,
        prices_path=d / "pricecatcher_2024-01.parquet",
        premises_path=fixture_trio / "lookup_premise.parquet",
        items_path=fixture_trio / "lookup_item.parquet",
    )
    with pytest.raises(Exception, match="NULL item_code in prices"):
        pipeline.build_artifact(null_key, out, "2024-01")
    assert {p.name: p.read_bytes() for p in out.iterdir()} == published
