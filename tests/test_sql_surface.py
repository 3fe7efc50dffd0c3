"""SQL-surface tests: consumer SQL written for the reference's SQLite
artifact runs unchanged against the registered Spark views, which read the
tables cached at registration."""

from __future__ import annotations

import subprocess
import sys
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opendosm_parquet_to_sqlite_spark.caching import release_cached
from opendosm_parquet_to_sqlite_spark.plans.sql_surface import (
    register_pricecatcher_views,
)
from opendosm_parquet_to_sqlite_spark.sources.parquet import load_table

from .conftest import REPO, SF0001

pytestmark = pytest.mark.product

CONSUMER_SQL = """
    SELECT p.date, pr.premise, i.item, p.price
    FROM prices p
    JOIN premises pr ON p.premise_code = pr.premise_code
    JOIN items i ON p.item_code = i.item_code
    WHERE pr.state = 'Selangor'
"""


def _write_sources(
    d, prices=((datetime(2024, 1, 1), "5.00"), (datetime(2024, 1, 9), "6.00")),
    premise_codes=("101.0",), item_codes=("10",),
):
    """The three source files, codes typed as upstream often ships them
    (strings, premise codes as floats). Every price row is (101, 10)."""
    d.mkdir(exist_ok=True)
    n, m = len(premise_codes), len(item_codes)
    pq.write_table(pa.table({
        "date": pa.array([p[0] for p in prices], pa.timestamp("us")),
        "premise_code": pa.array(["101"] * len(prices)),
        "item_code": pa.array(["10"] * len(prices)),
        "price": pa.array([p[1] for p in prices]),
    }), d / "prices.parquet")
    pq.write_table(pa.table({
        "premise_code": pa.array(list(premise_codes)),
        "premise": pa.array(["Shop"] * n),
        "address": pa.array(["1 Rd"] * n),
        "premise_type": pa.array(["grocer"] * n),
        "state": pa.array(["Selangor"] * n),
        "district": pa.array(["PJ"] * n),
    }), d / "premises.parquet")
    pq.write_table(pa.table({
        "item_code": pa.array(list(item_codes), pa.string()),
        "item": pa.array(["Milk"] * m),
        "unit": pa.array(["1l"] * m),
        "item_group": pa.array(["dairy"] * m),
        "item_category": pa.array(["drink"] * m),
    }), d / "items.parquet")


def _register(spark, d):
    return register_pricecatcher_views(
        spark,
        prices_path=str(d / "prices.parquet"),
        premises_path=str(d / "premises.parquet"),
        items_path=str(d / "items.parquet"),
    )


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _executed_nodes(df) -> list:
    """Nodes of the executed plan, looking through adaptive execution and
    its query stages (run the query first)."""

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        kids = node.children()
        return [node] + [n for i in range(kids.size()) for n in walk(kids.apply(i))]

    return walk(df._jdf.queryExecution().executedPlan())


def _scan_leaves(df) -> list[str]:
    """Node names of the executed plan's leaves."""
    return [n.nodeName() for n in _executed_nodes(df) if n.children().isEmpty()]


def test_testdata_views_queryable_by_sql(spark):
    """The testdata tables registered under the DuckDB oracle's names
    answer oracle-style SQL on Spark."""
    for name in ("lineitem", "part"):
        load_table(spark, SF0001, name).createOrReplaceTempView(name)
    got = spark.sql(
        """
        SELECT p_brand, count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 3
        """
    ).collect()
    assert len(got) == 3 and got[0]["n"] >= got[2]["n"]


def test_pricecatcher_consumer_sql_ports_verbatim(spark, tmp_path):
    """The exact consumer query shape the reference's indexes were built
    for (filter by state, join both dims) runs against the views."""
    _write_sources(tmp_path / "src")
    _register(spark, tmp_path / "src")
    got = spark.sql(CONSUMER_SQL).collect()
    assert len(got) == 1
    assert (got[0]["date"], got[0]["premise"], got[0]["item"], got[0]["price"]) == (
        "2024-01-09", "Shop", "Milk", 6.0
    )


def test_queries_read_the_cache_not_the_parquet(spark, tmp_path):
    """A consumer query scans the tables cached at registration: no
    parquet scan, so no cleanse and no dedup shuffle per query."""
    _write_sources(tmp_path / "src")
    _register(spark, tmp_path / "src")
    df = spark.sql(CONSUMER_SQL)
    df.collect()
    leaves = _scan_leaves(df)
    assert leaves and set(leaves) == {"InMemoryTableScan"}, leaves


def test_views_are_cached_in_one_partition_so_rollups_do_not_shuffle(spark, tmp_path):
    """Each view is cached in one partition, which already has the
    clustering a GROUP BY needs and the ordering an ORDER BY needs: a
    rollup over the three views (the consumer's GROUP BY + ORDER BY shape)
    plans no shuffle, only the dimension broadcasts."""
    _write_sources(
        tmp_path / "src",
        prices=[(datetime(2024, 1, d), f"{d}.00") for d in range(1, 29)],
        premise_codes=("101.0", "102.0"), item_codes=("10", "11"),
    )
    tables = _register(spark, tmp_path / "src")
    assert {n: spark.table(n).rdd.getNumPartitions() for n in tables} == {
        "prices": 1, "premises": 1, "items": 1,
    }
    df = spark.sql(
        """
        SELECT pr.state, i.item_group, count(*) AS n, avg(p.price) AS avg_price
        FROM prices p
        JOIN premises pr ON p.premise_code = pr.premise_code
        JOIN items i ON p.item_code = i.item_code
        GROUP BY pr.state, i.item_group
        ORDER BY pr.state, i.item_group
        """
    )
    assert [tuple(r) for r in df.collect()] == [("Selangor", "dairy", 1, 28.0)]
    exchanges = [n.nodeName() for n in _executed_nodes(df) if "Exchange" in n.nodeName()]
    assert exchanges and set(exchanges) == {"BroadcastExchange"}, exchanges


def test_views_keep_their_cache_across_release_cached(spark, tmp_path):
    """release_cached() frees operator scratch persists, not the views."""
    _write_sources(tmp_path / "src")
    _register(spark, tmp_path / "src")
    release_cached()
    assert all(spark.catalog.isCached(n) for n in ("prices", "premises", "items"))
    df = spark.sql(CONSUMER_SQL)
    assert len(df.collect()) == 1
    assert set(_scan_leaves(df)) == {"InMemoryTableScan"}


def test_reregistering_reads_the_new_month_and_frees_the_old(spark, tmp_path):
    """A registration is a snapshot: after the month file is replaced, a
    new registration serves the new champion, and the old snapshot's
    caches are freed rather than left beside the new ones."""
    d = tmp_path / "src"
    _write_sources(d)
    _register(spark, d)
    cached = _persistent_rdds(spark)
    assert spark.sql("SELECT price FROM prices").collect()[0]["price"] == 6.0

    _write_sources(d, prices=(
        (datetime(2024, 1, 9), "6.00"), (datetime(2024, 1, 20), "7.50"),
    ))
    _register(spark, d)
    got = spark.sql(CONSUMER_SQL).collect()
    assert [(r["date"], r["price"]) for r in got] == [("2024-01-20", 7.5)]
    assert _persistent_rdds(spark) == cached


@pytest.mark.parametrize(
    "premise_codes, item_codes, key",
    [
        (("101", "101.0"), ("10",), "premise_code"),  # one premise, twice
        (("101.0",), ("10", None), "item_code"),  # a NULL item key
    ],
)
def test_dimension_key_violation_fails_registration(
    spark, tmp_path, premise_codes, item_codes, key
):
    """The views keep the artifact's UNIQUE-index contract on the
    dimension keys (src/main.rs:198,204): a duplicate or NULL key raises
    instead of double-counting in every join, and leaves no views or
    caches behind."""
    d = tmp_path / "src"
    _write_sources(d)
    _register(spark, d)
    cached = _persistent_rdds(spark)
    _write_sources(d, premise_codes=premise_codes, item_codes=item_codes)
    with pytest.raises(ValueError, match=key):
        _register(spark, d)
    assert not any(spark.catalog.tableExists(n) for n in ("prices", "premises", "items"))
    assert _persistent_rdds(spark) == cached - 3


def test_product_imports_do_not_load_the_query_registry():
    """The product entry points (the CLI with what it imports when it runs,
    the month build, the SQL views and the top-up) load neither the
    249-query registry, nor pandas, nor any operator family beyond cleanse
    and dedup."""
    code = (
        "import sys\n"
        "pkg = 'opendosm_parquet_to_sqlite_spark'\n"
        "for m in ('__main__', 'plans.pipeline', 'plans.sql_surface', 'streaming',\n"
        "          'session', 'sources.catalog'):\n"
        "    __import__(f'{pkg}.{m}')\n"
        "ops = {m for m in sys.modules if m.startswith(f'{pkg}.operators.')}\n"
        "assert ops <= {f'{pkg}.operators.cleanse', f'{pkg}.operators.dedup'}, ops\n"
        "assert f'{pkg}.plans.queries' not in sys.modules\n"
        "assert 'pandas' not in sys.modules\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
