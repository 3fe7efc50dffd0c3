"""Tests of the benchmark itself: seeded generators, the reduction of traced
ops to layer metrics, the correctness checker, and the metric names it reports.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import sqlite3
import zipfile
from pathlib import Path

import pytest

import checks
import gen
import run
import spans

ROOT = Path(__file__).resolve().parents[2]


def _tree_bytes(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("make", [gen.month_trio, gen.corpus])
def test_generators_are_deterministic_per_seed(tmp_path, make):
    a = make(tmp_path / "a", 5)
    b = make(tmp_path / "b", 5)
    c = make(tmp_path / "c", 6)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)
    # a second call reuses the cache entry instead of generating again
    assert make(tmp_path / "a", 5) == a


def test_month_properties_record_what_the_workloads_need(tmp_path):
    props = json.loads((gen.month_trio(tmp_path, 1) / "properties.json").read_text())
    assert 5 < props["obs_per_pair"] < 7  # the full-scale month's ratio, see gen.py
    assert props["same_day_dup_pairs"] > 0
    assert props["premises_skipped_null_code"] == gen.N_JUNK_PREMISES
    assert len(props["rows_per_day"]) == props["days"] == gen.DAYS
    assert sum(props["rows_per_day"]) == props["price_rows"]


def test_layer_metrics_are_medians_over_traced_ops():
    tracer = spans.Tracer("w")
    tracer.enabled = True
    tracer.add("dedup.rows_in", 10)  # recorded at set-up only
    for op, hits, zip_s in (("op0", 1, 1.5), ("op2", 2, 2.5), ("op4", 2, 4.0)):
        tracer.op_id = op
        tracer.add("cache.hits", hits)
        tracer.add("cache.checked", 2)
        tracer.spans.append({"name": "sinks.zipsink.zip_artifact", "start": 0.0, "end": zip_s, "op": op})
    got = run.layer_metrics(tracer)
    assert got["cache.hit_ratio"] == 1.0  # median of 0.5, 1, 1
    assert got["zip.s"] == 2.5
    assert got["dedup.rows_in"] == 10


@pytest.fixture(scope="module")
def good_artifact(tmp_path_factory):
    """A correct month artifact written straight from the DuckDB oracle,
    with the reference's indexes and the zip around it."""
    d = tmp_path_factory.mktemp("artifact")
    served = gen.month_trio(d / "inputs", 3) / "pricecatcher"
    con = checks.oracle(served, gen.MONTH)
    db = d / "pricecatcher_2024-01.db"
    out = sqlite3.connect(db)
    for table in ("prices", "premises", "items"):
        cur = con.execute(f"SELECT * FROM {table}")
        cols = [c[0] for c in cur.description]
        out.execute(f"CREATE TABLE {table} ({', '.join(cols)})")
        out.executemany(f"INSERT INTO {table} VALUES ({', '.join('?' for _ in cols)})", cur.fetchall())
    for table, col, unique in checks.REFERENCE_INDEXES:
        out.execute(f"CREATE {'UNIQUE ' if unique else ''}INDEX idx_{table}_{col} ON {table} ({col})")
    out.commit()
    out.close()
    z = d / "pricecatcher.zip"
    with zipfile.ZipFile(z, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.write(db, "pricecatcher.db")
    expected = checks.month_expectation(con)
    con.close()
    return db, z, expected


def test_checker_accepts_a_correct_artifact(good_artifact):
    db, z, expected = good_artifact
    assert checks.check_month_artifact(db, z, expected) == []


def test_checker_rejects_a_truncated_artifact(good_artifact, tmp_path):
    db, z, expected = good_artifact
    cut = tmp_path / db.name
    data = db.read_bytes()
    cut.write_bytes(data[: len(data) // 2])
    assert checks.check_month_artifact(cut, z, expected)


def test_checker_rejects_a_wrong_champion(good_artifact, tmp_path):
    db, z, expected = good_artifact
    bad = tmp_path / db.name
    shutil.copy(db, bad)
    con = sqlite3.connect(bad)
    con.execute(
        "UPDATE prices SET price = price + 0.01 WHERE rowid = (SELECT min(rowid) FROM prices)"
    )
    con.commit()
    con.close()
    problems = checks.check_month_artifact(bad, z, expected)
    assert any("champions" in p for p in problems)


def test_checker_rejects_a_missing_index(good_artifact, tmp_path):
    db, z, expected = good_artifact
    bad = tmp_path / db.name
    shutil.copy(db, bad)
    con = sqlite3.connect(bad)
    con.execute("DROP INDEX idx_items_item_group")
    con.commit()
    con.close()
    assert checks.check_month_artifact(bad, z, expected) == [
        "missing index items(item_group) unique=False"
    ]


def test_same_rows_tolerates_float_summation_order():
    assert checks.same_rows([("a", 0.1 + 0.2)], [("a", 0.3)])
    assert not checks.same_rows([("a", 0.31)], [("a", 0.3)])
    assert not checks.same_rows([("a", 1.0)], [("a", 1.0), ("b", 2.0)])


def test_reported_metric_names_are_declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    layer = {m["name"] for m in spec["per_layer"]}
    assert set(run.SPAN_METRICS) <= layer
    assert set(run.RATIOS) <= layer
    assert {"setup_s", "op_s", "out_mb", "driver_rss_mb"} == {m["name"] for m in spec["end_to_end"]}
    assert [w["name"] for w in spec["workloads"]] == ["daily_cycle", "price_queries"]
