"""MERGE INTO semantics for keyed datasets — the upsert primitive the
reference approximates by dropping and rebuilding its whole `prices`
table every run (src/main.rs:252-278, materialize-overwrite). At 100 TB a
full rebuild per delta is not a strategy; MERGE applies a (usually small)
change set against the standing dataset in one pass.

`merge_plan` is the pure relational core: one keyed full-outer join
classifying every row as kept / updated / inserted / deleted. Being a
plain DataFrame plan it is hash-checkable against a DuckDB oracle
(plans.queries: merge_upsert) and reusable against any source.

Scale shape: ONE exchange of each side keyed by the merge key. The
standing dataset never passes through the driver. Updates must be
key-unique (enforced: a duplicate-key update set is a bug, and silently
picking one of N conflicting updates is the worst possible behavior).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_plan(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    delete_condition: Column | None = None,
    check_unique: bool = True,
) -> DataFrame:
    """MERGE semantics as one lazy plan:

    - matched (key in both):   updated row (update columns win — including
      a column legitimately SET to NULL), unless `delete_condition`
      (evaluated on the UPDATE row's columns) is TRUE — then the row is
      dropped. A NULL condition keeps the row, per SQL MERGE's
      'WHEN MATCHED AND cond THEN DELETE'.
    - not matched by target:   inserted as-is.
    - not matched by updates:  target row kept unchanged.

    Output schema == target schema (updates must carry the same columns;
    extra update columns are ignored, missing ones raise). Keys must be
    non-null on the updates side (enforced) — a NULL merge key never
    matches anything under SQL equality and would silently insert.

    check_unique guards the relational contract (≤1 update per key) with
    a streaming-friendly count check compiled into the same job: the
    plan raises at execution time via an assert column rather than a
    separate pre-pass action.
    """
    missing = [c for c in target.columns if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing target columns: {missing}")
    for k in keys:
        if k not in target.columns:
            raise ValueError(f"merge key {k!r} not in target")

    upd = updates.select(*target.columns)
    # The contract guards must live INSIDE a column the plan keeps —
    # a guard in a dropped column would be pruned by Catalyst and never
    # evaluate. assert_true returns NULL when the predicate holds (and
    # raises otherwise), so wrapping the first key as
    # when(assert_true(ok) is null, key) preserves both value and type
    # while forcing per-row evaluation.
    ok = None
    for k in keys:
        c = F.col(k).isNotNull()
        ok = c if ok is None else (ok & c)
    if check_unique:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*keys)
        upd = upd.withColumn("__k_n", F.count(F.lit(1)).over(w))
        ok = ok & (F.col("__k_n") <= 1)
    guard = F.assert_true(
        ok,
        F.lit(
            "merge_plan contract violation: NULL merge key or duplicate "
            "update key in the update set"
        ),
    )
    k0 = keys[0]
    upd = upd.withColumn(k0, F.when(guard.isNull(), F.col(k0)))
    if check_unique:
        upd = upd.drop("__k_n")

    t = target.select(
        *[F.col(c).alias(f"__t_{c}") for c in target.columns]
    )
    u = upd.select(*[F.col(c).alias(f"__u_{c}") for c in target.columns])
    cond = None
    for k in keys:
        c = F.col(f"__t_{k}") == F.col(f"__u_{k}")
        cond = c if cond is None else (cond & c)
    j = t.join(u, cond, "full_outer")
    matched = F.col(f"__u_{keys[0]}").isNotNull() & F.col(
        f"__t_{keys[0]}"
    ).isNotNull()
    # Column choice is decided by MATCH SIDE, not value nullness: the
    # update keys are guarded non-null above, so __u_{k0} IS NOT NULL
    # identifies "this output row comes from the update set" exactly —
    # and an update row may legitimately SET a column to NULL (a
    # coalesce here would silently resurrect the target value).
    from_updates = F.col(f"__u_{keys[0]}").isNotNull()
    merged = j.select(
        *[
            F.when(from_updates, F.col(f"__u_{c}"))
            .otherwise(F.col(f"__t_{c}"))
            .alias(c)
            for c in target.columns
        ],
        matched.alias("__matched"),
        from_updates.alias("__from_updates"),
    )
    if delete_condition is not None:
        # SQL MERGE 'WHEN MATCHED AND cond THEN DELETE' treats a NULL
        # condition as NOT deleted; a bare ~(matched & cond) is
        # three-valued and would silently DROP rows where cond is NULL
        # (e.g. a predicate over a nullable column). coalesce to False
        # keeps them.
        merged = merged.filter(
            ~F.coalesce(F.col("__matched") & delete_condition, F.lit(False))
        )
    return merged.drop("__matched", "__from_updates")
