"""Physical-plan audit for tests: the programmatic form of the discipline
PLANS.md applies by hand and tests/test_plans.py pins per query. Count a
plan's exchanges, check its joins broadcast where they should, and verify
that filters and pruning reached the scans.

On Spark the physical plan is the cost model, and regressions arrive
silently: a dropped broadcast hint, a lost partition filter, a window that
stopped sharing an exchange. plan_report turns "read the explain output"
into assertable numbers.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The formatted explain output as a string (explain() only prints)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_report(df: DataFrame) -> dict:
    """Structured audit of a DataFrame's physical plan.

    Returns a dict of the shape-level facts the 100 TB questions reduce
    to (counts read from the numbered operator-detail section, so each
    operator is counted once):

      n_exchanges          all repartitions — each is a shuffle
      n_hash_exchanges     hashpartitioning exchanges (joins/aggs)
      n_range_exchanges    rangepartitioning exchanges (total sorts)
      n_broadcast_joins    BroadcastHashJoin operators
      n_sortmerge_joins    SortMergeJoin operators (big-big shuffles)
      n_nested_loop_joins  BroadcastNestedLoopJoin (1-row stats joins are
                           fine; anything else usually is not)
      n_cartesian          CartesianProduct — almost always a bug
      n_scans              file scans
      scans                per-scan dicts: format, pushed_filters,
                           partition_filters, read_schema (column-pruning
                           evidence)
      codegen_spans        WholeStageCodegen regions (bigger spans =
                           fewer pipeline breaks)
      has_python_udf       True if any row/batch Python eval appears
                           (BatchEvalPython / ArrowEvalPython / pandas)
    """
    plan = physical_plan(df)

    def _count(op: str) -> int:
        return len(re.findall(rf"\(\d+\) {op}\b", plan))

    scans = []
    for m in re.finditer(r"\(\d+\) Scan (\w+)([\s\S]*?)(?=\n\(\d+\)|\Z)", plan):
        body = m.group(2)

        def _field(name: str) -> str | None:
            fm = re.search(rf"{name}: \[?(.*?)\]?\n", body)
            return fm.group(1).strip() if fm else None

        scans.append(
            {
                "format": m.group(1),
                "pushed_filters": _field("PushedFilters"),
                "partition_filters": _field("PartitionFilters"),
                "read_schema": _field("ReadSchema"),
            }
        )
    return {
        "n_exchanges": _count("Exchange"),
        "n_hash_exchanges": len(
            re.findall(r"Arguments: hashpartitioning", plan)
        ),
        "n_range_exchanges": len(
            re.findall(r"Arguments: rangepartitioning", plan)
        ),
        "n_broadcast_joins": _count("BroadcastHashJoin"),
        "n_sortmerge_joins": _count("SortMergeJoin"),
        "n_nested_loop_joins": _count("BroadcastNestedLoopJoin"),
        "n_cartesian": _count("CartesianProduct"),
        "n_scans": len(scans),
        "scans": scans,
        "codegen_spans": len(
            set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        "has_python_udf": bool(
            re.search(r"BatchEvalPython|ArrowEvalPython|EvalPython|InPandas", plan)
        ),
    }


def assert_plan(df: DataFrame, **expectations) -> dict:
    """Assert shape facts in one call — the test/CI hook:

        assert_plan(df, n_exchanges=1, n_sortmerge_joins=0)

    Supports exact ints and ("<=", n) / (">=", n) tuples. Returns the
    full report on success; raises AssertionError naming every violated
    expectation (with the report attached) otherwise.
    """
    report = plan_report(df)
    problems = []
    for key, want in expectations.items():
        if key not in report:
            raise KeyError(f"unknown plan fact {key!r}")
        got = report[key]
        if isinstance(want, tuple):
            op, n = want
            ok = got <= n if op == "<=" else got >= n if op == ">=" else None
            if ok is None:
                raise ValueError(f"bad comparator {op!r}")
            if not ok:
                problems.append(f"{key}: expected {op}{n}, got {got}")
        elif got != want:
            problems.append(f"{key}: expected {want}, got {got}")
    if problems:
        raise AssertionError(
            "plan expectations violated: " + "; ".join(problems)
            + f"\nreport={report}"
        )
    return report
