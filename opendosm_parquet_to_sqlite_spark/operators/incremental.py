"""Incremental aggregates: per-key MERGEABLE partials that fold batch by
batch to the same result as one pass over the union. The reference
recomputes its whole output table every run (src/main.rs:252-278); at
100 TB a daily job touches only the daily delta, and partials are what
make that exact.

The algebra: (count, sum, sumsq, min, max) per key is a commutative
monoid under (+, +, +, min, max) — merge order, batch boundaries, and
re-partitioning cannot change the result (pinned by a hypothesis fuzz
over random splits). Derived stats (avg, variance, stddev) are computed
only at FINALIZE time from the partials; they are not themselves
mergeable and never stored.

Scale shape: each batch contributes one partial-combined aggregation
(map-side combine on the batch only) + one key-sized merge. Variance
uses the sumsq formulation guarded by max(_, 0) — catastrophic
cancellation can produce tiny negative values; at extreme dynamic ranges
switch the value column to a shifted/scaled unit upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """One batch's mergeable partials per key: n, sum, sumsq, min, max
    over the non-null values of `value_col` (NULLs contribute nothing,
    matching SQL aggregate semantics at finalize time)."""
    v = F.col(value_col).cast("double")
    return df.groupBy(*keys).agg(
        F.count(v).alias("n"),
        F.coalesce(F.sum(v), F.lit(0.0)).alias("s"),
        F.coalesce(F.sum(v * v), F.lit(0.0)).alias("ss"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_agg_states(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Fold any number of state tables into one: union + one key-sized
    re-aggregation (sum/sum/sum/min/max are the monoid ops)."""
    if not states:
        raise ValueError("need at least one state table")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


def finalize_agg(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive the user-facing stats from the partials: count, sum, avg,
    min, max, population stddev — all rounded to 6 dp so the result is
    engine-portable (hash-checked vs DuckDB). Keys with only NULL values
    (n == 0) yield NULL sum/avg/std/min/max, exactly matching a plain
    SQL GROUP BY over the same data (SQL sum of zero values is NULL)."""
    n = F.col("n")
    mean = F.col("s") / n
    var = F.greatest(F.col("ss") / n - mean * mean, F.lit(0.0))
    nz = n > 0
    return state.select(
        *keys,
        n.alias("n_values"),
        F.round(F.when(nz, F.col("s")), 6).alias("sum_value"),
        F.round(F.when(nz, mean), 6).alias("avg_value"),
        F.round(F.when(nz, F.col("mn")), 6).alias("min_value"),
        F.round(F.when(nz, F.col("mx")), 6).alias("max_value"),
        F.round(F.when(nz, F.sqrt(var)), 6).alias("std_value"),
    )
