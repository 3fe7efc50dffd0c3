"""Global plan-shape sweep over EVERY registered query.

test_plans.py pins rich per-plan facts (exchange counts, broadcast
choices, pruning) on ~50 chosen plans; this sweep is the registry-wide
backstop for the two shapes that are unconditional failures at 100 TB
regardless of query intent:

- ``CartesianProduct`` — an unbounded all-pairs join. Every pairwise
  operator in the package (near-dup, ANN, linkage, media pairs, graph
  wedges) is bucketed/banded/blocked precisely so this node never
  appears; a dropped equi-condition or a lost broadcast hint can
  silently reintroduce it.
- ``BatchEvalPython`` — row-at-a-time Python eval, the 10-100x slow
  path. The package-wide rule (SURVEY §2.11) is native expressions
  first, Arrow-batched ``pandas_udf``/``mapInPandas`` (ArrowEvalPython /
  *InPandas nodes — allowed here) only where built-ins cannot express
  the semantics.

The sweep BUILDS each plan at sf0.001 (no execution beyond what query
construction itself does — a few operators fit driver-side models while
composing), so a new registration or a regression in a shared helper
fails this test the first time pytest runs, not at a scale probe three
rounds later.
"""

from __future__ import annotations

import pytest

from opendosm_parquet_to_sqlite_spark.plans.queries import QUERIES

from .conftest import SF0001
from .plan_audit import physical_plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_free_of_cartesian_and_row_python(spark, name):
    plan = physical_plan(QUERIES[name](spark, SF0001))
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in physical plan — an all-pairs join "
        "reached the optimizer; restore the equi-/band-join condition"
    )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python eval in physical plan — use "
        "native expressions or an Arrow pandas_udf"
    )
