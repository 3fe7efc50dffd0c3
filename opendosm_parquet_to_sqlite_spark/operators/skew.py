"""Keyed profiles and the skew diagnostics that decide, before a job
straggles, whether a keyed operator needs salting or time slicing.

batch_profile is a keyed AGGREGATE: Spark's hash aggregation does map-side
partial aggregation, so a hot key emits one partial row per input
partition and the final exchange carries O(partitions) rows per key no
matter how hot it is. Keyed WINDOWS (temporal.rolling_features) have no
partial phase: every row of a key lands in one task. skew_report and
join_size_report measure that concentration from key-count tables alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def batch_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key value profile via one groupBy: (key, n_events, mean_value,
    m2_value, min_value, max_value, last_ts, last_value). Hash aggregation
    partial-combines map-side, so hot keys are already fine here.

    tiebreak_col makes last_value deterministic when (key, ts) collides
    (inputs with duplicate timestamps need an explicit total order)."""
    v = F.col(value_col).cast("double")
    order = (
        F.struct(F.col("et"), F.col("tb"))
        if tiebreak_col
        else F.struct(F.col("et"))
    )
    cols = [
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).cast("long").alias("et"),
        v.alias("value"),
    ]
    if tiebreak_col:
        cols.append(F.col(tiebreak_col).alias("tb"))
    return (
        df.select(*cols)
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.round(
                F.sum(F.col("value") * F.col("value"))
                - F.count(F.lit(1)) * F.avg("value") * F.avg("value"),
                6,
            ).alias("m2_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.max("et").alias("last_ts"),
            F.max_by("value", order).alias("last_value"),
        )
    )


def skew_report(
    df: DataFrame,
    key_cols: str | list[str],
    top_n: int = 10,
) -> DataFrame:
    """Key-distribution diagnostic — the pre-flight that decides whether
    skew remedies (salting, time slicing) are needed BEFORE a job
    straggles: per-key counts reduced to one summary row
    with the concentration measures that matter for shuffle planning.

    Output (single row): n_rows, n_keys, max_share (the hottest key's
    fraction — a single-task ceiling for keyed windows), top_share (the
    `top_n` hottest keys' combined fraction), gini (0 = perfectly
    uniform, →1 = one key dominates; computed from the rank formula
    G = (2·Σ i·c_i) / (n_keys·Σ c_i) − (n_keys+1)/n_keys over counts
    sorted ascending — rank-based, so it needs one sort of the KEY
    TABLE, never the data).

    Rule of thumb the docstrings elsewhere assume: max_share ≳ 1/tasks
    means the hottest key fills a whole task — keyed windows need time
    slicing; aggregates are already safe (map-side partials).

    Shape: one partial-combined (key, count) agg — the only data-scale
    exchange — then windows over the KEY table (key-count-sized).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.orderBy(F.col("c").asc(), *[F.col(k) for k in keys])
    w_desc = Window.orderBy(F.col("c").desc(), *[F.col(k) for k in keys])
    ranked = counts.select(
        F.col("c"),
        F.row_number().over(w_rank).alias("i"),
        F.row_number().over(w_desc).alias("r_desc"),
    )
    return ranked.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.round(F.max("c") / F.sum("c"), 6).alias("max_share"),
        F.round(
            F.sum(F.when(F.col("r_desc") <= int(top_n), F.col("c"))
                  .otherwise(F.lit(0))) / F.sum("c"),
            6,
        ).alias("top_share"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("c"))
            / (F.count(F.lit(1)) * F.sum("c"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


def join_size_report(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Pre-flight for an equi-join: the EXACT output cardinality and its
    concentration, from key-count tables alone — decide broadcast /
    salt / bail BEFORE paying the join. |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k)
    — computed over the two key-count aggregations, never the join
    itself (the whole point when the answer might be 10¹² rows: the
    diagnostic's cost is two partial-combined aggs + a key-table join;
    its output is one row).

    The companion to skew_report (single-table key concentration): this
    is the PAIRED version — hot_key_share names the single key pair
    contributing the largest share of join output, the number that
    predicts one reducer owning the join.

    Output (one row): est_join_rows, n_left_rows, n_right_rows,
    n_common_keys, amplification (est / max(inputs), 6 dp — >1 means
    fanout), hot_key_share (6 dp).
    """
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cl"))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cr"))
    j = lc.join(rc, keys).select(
        (F.col("__cl") * F.col("__cr")).alias("__prod")
    )
    nl = left.count()
    nr = right.count()
    agg = j.agg(
        F.coalesce(F.sum("__prod"), F.lit(0)).alias("est_join_rows"),
        F.count(F.lit(1)).alias("n_common_keys"),
        F.coalesce(F.max("__prod"), F.lit(0)).alias("__hot"),
    )
    return agg.select(
        F.col("est_join_rows").cast("long"),
        F.lit(nl).cast("long").alias("n_left_rows"),
        F.lit(nr).cast("long").alias("n_right_rows"),
        F.col("n_common_keys").cast("long"),
        F.round(
            F.col("est_join_rows") / F.lit(float(max(max(nl, nr), 1))), 6
        ).alias("amplification"),
        F.round(
            F.when(
                F.col("est_join_rows") > 0,
                F.col("__hot") / F.col("est_join_rows"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("hot_key_share"),
    )
