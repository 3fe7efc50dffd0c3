"""tests/plan_audit.py, the plan-shape helper: its counts agree with the
hand-pinned facts in tests/test_plans.py for known queries, and
assert_plan raises usefully."""

from __future__ import annotations

import pytest

from opendosm_parquet_to_sqlite_spark.plans.queries import QUERIES

from . import plan_audit as audit
from .conftest import SF0001


def test_star_denorm_report(spark):
    df = QUERIES["join_star_denorm"](spark, SF0001)
    r = audit.plan_report(df)
    assert r["n_broadcast_joins"] == 4
    assert r["n_sortmerge_joins"] == 0
    assert r["n_cartesian"] == 0
    assert r["has_python_udf"] is False
    assert r["n_scans"] >= 4
    # column pruning evidence: the fact scan's ReadSchema excludes
    # unused lineitem columns
    li = [s for s in r["scans"] if s["read_schema"] and "l_" in s["read_schema"]]
    assert li and all("l_shipdate" not in s["read_schema"] for s in li)


def test_pricing_summary_report(spark):
    df = QUERIES["pricing_summary"](spark, SF0001)
    r = audit.plan_report(df)
    # one hash shuffle (the agg) + one range shuffle (the output sort)
    assert r["n_hash_exchanges"] == 1
    assert r["n_range_exchanges"] == 1
    assert r["n_exchanges"] == 2
    assert r["n_broadcast_joins"] == 0


def test_pushed_filters_surface(spark):
    df = QUERIES["shipping_priority"](spark, SF0001)
    r = audit.plan_report(df)
    pushed = [s for s in r["scans"] if s["pushed_filters"]]
    assert pushed  # date/segment predicates reached at least one scan


def test_python_udf_detection(spark):
    df = QUERIES["ann_pq"](spark, SF0001)
    assert audit.plan_report(df)["has_python_udf"] is True


def test_assert_plan_passes_and_fails(spark):
    df = QUERIES["pricing_summary"](spark, SF0001)
    r = audit.assert_plan(df, n_hash_exchanges=1, n_sortmerge_joins=("<=", 0))
    assert r["n_hash_exchanges"] == 1
    with pytest.raises(AssertionError, match="n_exchanges"):
        audit.assert_plan(df, n_exchanges=0)
    with pytest.raises(KeyError):
        audit.assert_plan(df, not_a_fact=1)


def test_new_query_plan_shapes_via_assert_plan(spark):
    """Dogfood assert_plan on this round's newest queries — regressions
    in these shapes fail here, not in a bench mystery."""
    # release_gate: no joins at all; one corpus scan
    audit.assert_plan(
        QUERIES["release_gate"](spark, SF0001),
        n_sortmerge_joins=0, n_cartesian=0, n_scans=1,
    )
    # join_size_report: key-count aggs only — the join is key-table-sized
    audit.assert_plan(
        QUERIES["join_size_report"](spark, SF0001),
        n_cartesian=0, n_scans=("<=", 4),
    )
    # embedding_drift: no corpus-sized join; exchanges are dim-sized aggs
    audit.assert_plan(
        QUERIES["embedding_drift"](spark, SF0001),
        n_cartesian=0, n_sortmerge_joins=("<=", 1),
    )
    # fold_assign: pure narrow projection
    audit.assert_plan(
        QUERIES["fold_assign"](spark, SF0001),
        n_exchanges=0, n_scans=1, has_python_udf=False,
    )
    # returned_item_revenue: both dims broadcast, no cartesian
    audit.assert_plan(
        QUERIES["returned_item_revenue"](spark, SF0001),
        n_broadcast_joins=(">=", 2),
        n_cartesian=0,
    )


def test_fd_violations_detects_and_passes(spark):
    from opendosm_parquet_to_sqlite_spark.operators.quality_rules import (
        fd_violations,
    )

    df = spark.createDataFrame(
        [
            (1, "a"), (1, "a"),          # functional
            (2, "x"), (2, "y"), (2, "x"),  # violation: 2 values
            (3, None), (3, "z"),         # NULL rhs excluded -> functional
        ],
        "k long, v string",
    )
    rows = fd_violations(df, "k", "v").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["k"] == 2 and r["n_values"] == 2 and r["n_rows"] == 3
    assert list(r["sample_values"]) == ["x", "y"]
    # a clean dependency returns EMPTY (the pass verdict)
    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert fd_violations(clean, "k", "v").isEmpty()


def test_benford_conforming_vs_uniform(spark):
    import math as m

    from opendosm_parquet_to_sqlite_spark.operators.quality_rules import (
        benford_check,
    )

    # geometric magnitudes follow Benford closely; uniform 1-9 does not
    benford_vals = [(("good"), float(1.05 ** i)) for i in range(60, 560)]
    uniform_vals = [(("bad"), float(1 + i % 9)) for i in range(500)]
    df = spark.createDataFrame(
        benford_vals + uniform_vals, "g string, v double"
    )
    out = {r["g"]: r for r in benford_check(df, "v", "g").collect()}
    assert out["good"]["max_dev"] < 0.03
    assert out["bad"]["max_dev"] > 0.1
    assert out["bad"]["chi2"] > out["good"]["chi2"] * 10
    assert out["good"]["n"] == 500 and out["bad"]["n"] == 500
    # sub-1 magnitudes are excluded by contract
    tiny = spark.createDataFrame([("t", 0.5)], "g string, v double")
    assert benford_check(tiny, "v", "g").isEmpty()
    assert m.isfinite(out["good"]["chi2"])


def test_column_entropy_key_vs_constant(spark):
    import math as m

    from opendosm_parquet_to_sqlite_spark.operators.quality_rules import (
        column_entropy,
    )

    n = 256
    df = spark.createDataFrame(
        [(i, "const", "cat_%d" % (i % 4), None) for i in range(n)],
        "key long, c string, cat string, nul string",
    )
    out = {r["column"]: r for r in
           column_entropy(df, ["key", "c", "cat", "nul"]).collect()}
    assert out["key"]["entropy"] == pytest.approx(m.log(n), abs=1e-6)
    assert out["key"]["distinct_ratio"] == 1.0
    assert out["c"]["entropy"] == 0.0 and out["c"]["n_distinct"] == 1
    assert out["cat"]["entropy"] == pytest.approx(m.log(4), abs=1e-6)
    # NULL is a category, not a hole: all-NULL column reads constant
    assert out["nul"]["entropy"] == 0.0 and out["nul"]["n_distinct"] == 1

