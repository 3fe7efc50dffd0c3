"""Skew remedies for keyed windows and keyed profiles — the operators the
rest of the tree points at with "salt upstream if one entity dominates"
(operators/temporal.py rolling_features, batch_profile below).

Two different skew problems, two different fixes:

1. Keyed AGGREGATES (batch_profile): Spark's hash aggregation already does
   map-side partial aggregation, so a hot key emits one partial row per
   input partition — the final exchange carries O(partitions) rows per key
   no matter how hot it is. salted_batch_profile makes that two-phase shape
   EXPLICIT (groupBy(key, salt) → merge) for the cases where the implicit
   partial combine is unavailable: planner fallbacks (e.g.
   spark.sql.aggregate.partialAggregationOptimization off-paths),
   ObjectHashAggregate spills on wide intermediate state, or engines/
   conformance modes that disable partial aggregation. Output is
   row-identical to batch_profile.

2. Keyed WINDOWS (rolling_features): a window function has NO partial
   phase — every row of a key lands in one task, sorts, and slides. A 90%
   hot key at 100 TB means one straggler task doing 90% of the sort.
   rolling_features_sliced exploits the TRAILING-window semantics: a row's
   frame reaches back only window_seconds, so time can be sliced into
   [k·slice, (k+1)·slice) chunks processed independently as long as each
   chunk also receives a replicated carry-in of the previous
   window_seconds of events. Partition key becomes (keys…, slice), the
   hot key's timeline spreads over ceil(span/slice) tasks, and each task's
   sort is O(slice_rows + carry_rows). Replication overhead is
   window/slice ≤ 1 extra copies of the boundary band only. Output is
   row-identical to rolling_features (same frame, same rounding).
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
    partial-combines map-side, so hot keys are already fine here;
    salted_batch_profile is the row-identical explicit two-phase shape for
    planner modes without partial aggregation.

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


def salted_batch_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    salt_factor: int = 16,
) -> DataFrame:
    """Two-phase (salted partial + merge) twin of batch_profile —
    identical output schema and values:
    (key, n_events, mean_value, m2_value, min_value, max_value, last_ts,
    last_value).

    Phase 1 groups by (key, salt) where salt = xxhash64(ts, value) %
    salt_factor — deterministic, no RNG — and computes mergeable partials
    (n, Σv, Σv², min, max, max ts, arg-max value + its order struct).
    Phase 2 merges the ≤ salt_factor partials per key. Every aggregate
    here is algebraic, so the merge is exact; the final mean/m2 rounding
    (6 dp) matches batch_profile's formula on the same totals.
    """
    if salt_factor < 1:
        raise ValueError(f"salt_factor must be >= 1, got {salt_factor}")
    v = F.col(value_col).cast("double")
    cols = [
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).cast("long").alias("et"),
        v.alias("value"),
    ]
    if tiebreak_col:
        cols.append(F.col(tiebreak_col).alias("tb"))
        order = F.struct(F.col("et"), F.col("tb"))
    else:
        order = F.struct(F.col("et"))
    salt = F.pmod(
        F.xxhash64(F.col("et"), F.col("value")), F.lit(salt_factor)
    ).alias("__salt")
    partial = (
        df.select(*cols)
        .select("*", salt)
        .groupBy("key", "__salt")
        .agg(
            F.count(F.lit(1)).alias("p_n"),
            F.sum("value").alias("p_sum"),
            F.sum(F.col("value") * F.col("value")).alias("p_sum2"),
            F.min("value").alias("p_min"),
            F.max("value").alias("p_max"),
            F.max("et").alias("p_last_ts"),
            F.max(order).alias("p_last_order"),
            F.max_by("value", order).alias("p_last_value"),
        )
    )
    n = F.sum("p_n")
    s = F.sum("p_sum")
    avg = s / n
    return partial.groupBy("key").agg(
        n.alias("n_events"),
        F.round(avg, 6).alias("mean_value"),
        F.round(F.sum("p_sum2") - n * avg * avg, 6).alias("m2_value"),
        F.min("p_min").alias("min_value"),
        F.max("p_max").alias("max_value"),
        F.max("p_last_ts").alias("last_ts"),
        F.max_by("p_last_value", F.col("p_last_order")).alias("last_value"),
    )


def rolling_features_sliced(
    events: DataFrame,
    key_cols: list[str],
    ts_seconds_col: str,
    value_col: str,
    window_seconds: int,
    slice_seconds: int,
) -> DataFrame:
    """Row-identical twin of temporal.rolling_features that partitions by
    (keys…, time-slice) instead of keys alone — the hot-key remedy for
    trailing RANGE windows.

    slice_seconds must be >= window_seconds: then an owner row's frame
    [ts - window, ts] reaches at most one slice back, and every event in
    the final window_seconds band of a slice is replicated once into the
    next slice as carry-in history (it contributes to frames there but
    emits no output row of its own — the __owner filter drops it). Pick
    slice_seconds ~ hot-key span / desired parallelism, floored at
    window_seconds; replication cost is bounded by window/slice ≤ 1 extra
    copy of the boundary band.
    """
    win = int(window_seconds)
    sl = int(slice_seconds)
    if win <= 0:
        raise ValueError(f"window_seconds must be positive, got {win}")
    if sl < win:
        raise ValueError(
            f"slice_seconds ({sl}) must be >= window_seconds ({win}); a "
            "smaller slice cannot hold a full trailing window of history"
        )
    et = F.col(ts_seconds_col).cast("long")
    owner_slice = F.floor(et / F.lit(sl))
    # an event doubles as carry-in for the next slice iff some later ts
    # within window_seconds of it falls across the slice boundary
    carries = F.floor((et + F.lit(win)) / F.lit(sl)) > owner_slice
    sliced = events.select(
        "*",
        F.explode(
            F.when(
                carries, F.array(owner_slice, owner_slice + 1)
            ).otherwise(F.array(owner_slice))
        ).alias("__slice"),
    ).withColumn("__owner", F.col("__slice") == owner_slice)
    v = F.col(value_col).cast("double")
    w = (
        Window.partitionBy(*key_cols, "__slice")
        .orderBy(et)
        .rangeBetween(-win, 0)
    )
    return (
        sliced.select(
            "*",
            F.count(v).over(w).alias("roll_n"),
            F.round(F.sum(v).over(w), 6).alias("roll_sum"),
            F.round(F.avg(v).over(w), 6).alias("roll_mean"),
            F.round(F.min(v).over(w), 6).alias("roll_min"),
            F.round(F.max(v).over(w), 6).alias("roll_max"),
        )
        .filter(F.col("__owner"))
        .drop("__slice", "__owner")
    )


def ewma_sliced(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    n_slices: int = 4,
    tiebreak_col: str | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """Time-sliced EWMA for monster keys — the scale path the plain
    operator's docstring names (operators/temporal.py ewma holds a key's
    WHOLE series in one task's collect_list; a years-long hot entity at
    100 TB makes that task the straggler and, eventually, the OOM).

    Unlike the trailing-window slice (rolling_features_sliced), EWMA's
    recurrence never forgets — a slice cannot be seeded by replicating a
    bounded carry band, because s_i depends on EVERY prior value.  But
    the dependence is only through ONE number: the previous slice's
    final state.  So the fix is sequential-over-slices, parallel-within:

      slice the time axis into n_slices equal bands (global bounds, one
      cheap agg); for k = 0..n-1: fold slice k per key with the
      recurrence SEEDED by the carry table (key → final state of slices
      0..k-1), emit the slice's rows, update the carry (one row per
      key), lineage-truncate the carry.

    Per-task memory drops from O(series) to O(series / n_slices); the
    carry table is key-count-sized.  The n_slices driver-side rounds are
    the price — the same sequential-outer/parallel-inner shape as every
    iterative operator here (components, pagerank, BPE), with state one
    double per key.  Output is row-identical to temporal.ewma (same fold
    order, same FP operations, same rounding) — pinned in
    tests/test_skew.py.
    """
    from .temporal import ewma as plain_ewma

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tb = tiebreak_col if tiebreak_col is not None else ts_col
    a = float(alpha)
    # numeric-ts contract: slicing arithmetic needs an orderable NUMERIC
    # time axis (epoch seconds/micros); the plain operator has no such
    # constraint
    lo, hi = df.agg(
        F.min(F.col(ts_col)), F.max(F.col(ts_col))
    ).first()
    if lo is None:
        return plain_ewma(
            df, keys, ts_col, value_col, alpha=a,
            tiebreak_col=tiebreak_col, out_col=out_col,
        )
    span = (hi - lo) or 1
    slice_id = F.least(
        F.lit(int(n_slices) - 1),
        (
            (F.col(ts_col) - F.lit(lo))
            * int(n_slices)
            / F.lit(span)
        ).cast("long"),
    )
    sliced = df.withColumn("__slice", slice_id)
    # Every slice's carry checkpoint stays RESIDENT until the session drops
    # the returned frame: the per-slice outputs reference their seed table
    # lazily, so releasing a carry before the caller materializes the
    # result would destroy data behind a truncated lineage. The footprint
    # is n_slices × |keys| rows of (key, double) — metadata-sized.
    carry = None  # DataFrame[keys..., __seed double] | None
    outs = []
    for k in range(int(n_slices)):
        part = sliced.filter(F.col("__slice") == k).drop("__slice")
        # fold this slice exactly like temporal.ewma, but seed the fold
        # with the carried state where one exists
        fields = [F.col(ts_col)] + (
            [F.col(tb)] if tb != ts_col else []
        ) + [F.col(value_col)]
        packed = part.groupBy(*keys).agg(
            F.array_sort(F.collect_list(F.struct(*fields))).alias("__seq")
        )
        if carry is not None:
            packed = packed.join(carry, keys, "left")
        else:
            packed = packed.withColumn(
                "__seed", F.lit(None).cast("double")
            )
        states = F.aggregate(
            F.col("__seq"),
            F.when(
                F.col("__seed").isNotNull(), F.array(F.col("__seed"))
            ).otherwise(F.lit(None).cast("array<double>")),
            lambda acc, x: F.when(
                acc.isNull(),
                F.array(x[value_col].cast("double")),
            ).otherwise(
                F.concat(
                    acc,
                    F.array(
                        F.lit(a) * x[value_col].cast("double")
                        + F.lit(1.0 - a) * F.element_at(acc, -1)
                    ),
                )
            ),
        )
        folded = packed.select(
            *keys,
            F.col("__seed"),
            F.col("__seq"),
            states.alias("__st_raw"),
        )
        # seeded folds carry the seed as element 1 of the state array —
        # slice it off so __st[i] is the state AFTER __seq[i] in both
        # the seeded and unseeded cases (a zip against the raw array
        # would pair every row with its predecessor's state)
        folded = folded.withColumn(
            "__st",
            F.when(
                F.col("__seed").isNotNull(),
                F.slice(
                    F.col("__st_raw"), 2, F.size(F.col("__st_raw")) - 1
                ),
            ).otherwise(F.col("__st_raw")),
        )
        exploded = folded.select(
            *keys,
            F.posexplode(F.arrays_zip(F.col("__seq"), F.col("__st"))),
        )
        outs.append(
            exploded.select(
                *keys,
                F.col("col.__seq")[ts_col].alias(ts_col),
                *([F.col("col.__seq")[tb].alias(tb)] if tb != ts_col else []),
                F.col("col.__seq")[value_col].alias(value_col),
                F.round(F.col("col.__st"), 6).alias(out_col),
            )
        )
        new_carry = folded.select(
            *keys, F.element_at(F.col("__st_raw"), -1).alias("__seed")
        )
        if carry is not None:
            # keys silent this slice keep their old state
            kept = carry.join(
                new_carry.select(*keys), keys, "left_anti"
            )
            new_carry = new_carry.unionByName(kept)
        carry = new_carry.localCheckpoint(eager=True)
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def skew_report(
    df: DataFrame,
    key_cols: str | list[str],
    top_n: int = 10,
) -> DataFrame:
    """Key-distribution diagnostic — the pre-flight that decides whether
    the skew remedies in this module (salting, time slicing) are needed
    BEFORE a job straggles: per-key counts reduced to one summary row
    with the concentration measures that matter for shuffle planning.

    Output (single row): n_rows, n_keys, max_share (the hottest key's
    fraction — a single-task ceiling for keyed windows), top_share (the
    `top_n` hottest keys' combined fraction), gini (0 = perfectly
    uniform, →1 = one key dominates; computed from the rank formula
    G = (2·Σ i·c_i) / (n_keys·Σ c_i) − (n_keys+1)/n_keys over counts
    sorted ascending — rank-based, so it needs one sort of the KEY
    TABLE, never the data).

    Rule of thumb the docstrings elsewhere assume: max_share ≳ 1/tasks
    means the hottest key fills a whole task — keyed windows need the
    sliced variants; aggregates are already safe (map-side partials).

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
