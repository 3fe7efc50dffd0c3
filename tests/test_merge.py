"""MERGE INTO: the relational core (merge_plan). Oracle parity for the
composed query runs in tests/test_oracle_parity.py (shadow oracle
merge_upsert); this module pins semantics and contract guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendosm_parquet_to_sqlite_spark.operators import merge


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )


def test_update_insert_keep(spark, target):
    upd = spark.createDataFrame(
        [(2, "B", 99.0), (9, "new", 1.0)], "k long, name string, v double"
    )
    out = {r.k: (r.name, r.v) for r in
           merge.merge_plan(target, upd, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0),
                   9: ("new", 1.0)}


def test_delete_clause_only_hits_matched(spark, target):
    upd = spark.createDataFrame(
        [(2, "B", -1.0), (9, "new", -5.0)], "k long, name string, v double"
    )
    out = {r.k for r in merge.merge_plan(
        target, upd, ["k"], delete_condition=F.col("v") < 0
    ).collect()}
    # matched k=2 with v<0 deleted; INSERT k=9 with v<0 still inserted
    # (delete applies to matched rows only — SQL MERGE semantics)
    assert out == {1, 3, 9}


def test_delete_condition_null_keeps_row(spark, target):
    # SQL MERGE: 'WHEN MATCHED AND cond THEN DELETE' with cond NULL is
    # NOT deleted. A matched update carrying v=NULL must therefore be
    # KEPT (as the updated row), not silently dropped by three-valued
    # logic in the filter.
    upd = spark.createDataFrame(
        [(2, "B", None), (3, "C", -1.0)], "k long, name string, v double"
    )
    out = {r.k: (r.name, r.v) for r in merge.merge_plan(
        target, upd, ["k"], delete_condition=F.col("v") < 0
    ).collect()}
    # k=3 deleted (cond true); k=2 kept AND updated (cond NULL)
    assert out == {1: ("a", 10.0), 2: ("B", None)}


def test_update_sets_column_to_null(spark, target):
    # 'update columns win' includes winning with NULL: the match side
    # decides column choice, not value nullness.
    upd = spark.createDataFrame(
        [(1, None, None)], "k long, name string, v double"
    )
    out = {r.k: (r.name, r.v) for r in
           merge.merge_plan(target, upd, ["k"]).collect()}
    assert out[1] == (None, None)
    assert out[2] == ("b", 20.0) and out[3] == ("c", 30.0)


def test_duplicate_update_key_raises(spark, target):
    upd = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "k long, name string, v double"
    )
    with pytest.raises(Exception, match="contract violation"):
        merge.merge_plan(target, upd, ["k"]).collect()


def test_null_update_key_raises(spark, target):
    upd = spark.createDataFrame(
        [(None, "x", 1.0)], "k long, name string, v double"
    )
    with pytest.raises(Exception, match="contract violation"):
        merge.merge_plan(target, upd, ["k"]).collect()


def test_missing_column_raises(spark, target):
    upd = spark.createDataFrame([(2, "x")], "k long, name string")
    with pytest.raises(ValueError, match="missing target columns"):
        merge.merge_plan(target, upd, ["k"])


from hypothesis import given, settings, strategies as st


_key = st.integers(0, 9)
# None included: update-to-NULL and NULL-under-delete-condition are the
# exact regimes the round-6 advice found untested
_val = st.one_of(
    st.none(),
    st.floats(-100, 100, allow_nan=False).map(lambda x: round(x, 3)),
)


@settings(max_examples=15, deadline=None)
@given(
    target=st.dictionaries(_key, _val, max_size=8),
    updates=st.dictionaries(_key, _val, max_size=8),
    delete_above=st.one_of(st.none(), st.floats(-50, 50, allow_nan=False)),
)
@pytest.mark.slow
def test_merge_plan_fuzz_vs_reference(spark, target, updates, delete_above):
    """Random target/update key sets (overlapping, disjoint, empty) with
    an optional delete clause vs a dict-based reference MERGE."""
    tdf = spark.createDataFrame(
        [(k, v) for k, v in target.items()], "k long, v double"
    ) if target else spark.createDataFrame([], "k long, v double")
    udf_ = spark.createDataFrame(
        [(k, v) for k, v in updates.items()], "k long, v double"
    ) if updates else spark.createDataFrame([], "k long, v double")
    cond = None if delete_above is None else (F.col("v") > delete_above)
    got = {
        r.k: r.v
        for r in merge.merge_plan(tdf, udf_, ["k"], cond).collect()
    }
    # reference: update wins (even with NULL); insert new; delete only
    # matched rows whose condition is TRUE (NULL cond -> kept)
    ref = dict(target)
    for k, v in updates.items():
        matched = k in ref
        ref[k] = v
        if (
            matched
            and delete_above is not None
            and v is not None
            and v > delete_above
        ):
            del ref[k]
    assert got == ref
