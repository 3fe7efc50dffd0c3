"""Snapshot diffing — the change-data-capture primitive between two
materializations of the same keyed table.

The reference's pipeline rebuilds its SQLite output from scratch every run
(src/main.rs:252-278 drops and recreates); the question any incremental
consumer asks next is "what CHANGED since the last snapshot?".  This
operator answers it as one keyed full-outer join:

- added:     key present only in `new`
- removed:   key present only in `old`
- changed:   key in both, at least one compared column differs
  (NULL-safe: NULL -> value and value -> NULL are changes, NULL -> NULL
  is not)
- unchanged rows are dropped by default (the diff IS the data reduction;
  pass include_unchanged=True for reconciliation audits).

Shape: both sides project to (key, compared columns) before the join —
ONE co-partitioned exchange per side on the key (the join Spark already
needs); the change classification is a narrow projection over the joined
row.  No digests: comparing columns directly with null-safe equality
avoids cross-engine string-formatting hazards entirely, which is what
makes the operator oracle-checkable (DuckDB's IS DISTINCT FROM has the
identical semantics).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: str | list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Keyed diff of two snapshots.  Output: key cols + `change_type`
    ('added' | 'removed' | 'changed' | 'unchanged') + one
    `{col}_old` / `{col}_new` pair per compared column (NULL on the
    absent side for added/removed rows)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    o = old.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k) for k in keys],
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
    )
    joined = o.join(n, keys, "full_outer")
    any_diff = reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
            for c in compare_cols
        ],
        F.lit(False),
    )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(
        *keys,
        change.alias("change_type"),
        *[
            c
            for pair in (
                (f"{col}_old", f"{col}_new") for col in compare_cols
            )
            for c in pair
        ],
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out
