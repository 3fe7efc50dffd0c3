"""Temporal joins Spark lacks as primitives: as-of join and range join.

Neither exists in the reference (its only temporal logic is the date-string
truncation, src/main.rs:23) nor as a Spark SQL primitive — but both are
bread-and-butter for event/price analytics, so the engine provides them as
COMPOSITIONS of built-in operators (SURVEY §7-style: composition first,
Pandas fallback never needed here).

- asof_join: for each probe row, the latest right row with ts <= probe ts
  per key. Implemented as the union-and-carry-forward trick: tag both
  sides, union, one hash shuffle on the key, in-partition sort by
  (ts, side), then last(ignorenulls) carries each right payload forward to
  the probes that follow it. ONE exchange + one sort — same cost shape as
  the flagship window dedup, scales identically. (A join formulation would
  need a non-equi theta join → BNLJ, O(n·m).)
- range_join_bins: pair ranges [start, end] with points ts where
  start <= ts <= end, WITHOUT a cartesian product: ranges explode to the
  fixed-width time bins they span, points map to their single bin, and the
  pairing is a plain equi-join on bin + exact boundary filter. Each
  (range, point) candidate appears exactly once (the point's own bin), so
  no dedup pass. Candidate volume is |points| + Σ range_spans/bin_width,
  and the shuffle partitions by bin — time-local, skew-resistant for
  roughly uniform event rates. Pick bin_width ≈ typical range length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window


def asof_join(
    probes: DataFrame,
    events: DataFrame,
    on: list[str],
    probe_ts: str,
    event_ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """Backward as-of join (probe matches latest event at-or-before its ts).

    probes keeps all its columns; payload_cols from events arrive as
    `asof_<col>` (null when no event precedes the probe). Events sharing an
    exact (key, ts) must be pre-deduplicated by the caller for determinism
    (e.g. latest_per_group on (key, ts)).

    All payload columns are carried forward as ONE struct with a single
    last(ignorenulls) — the struct is null only for probe rows, so every
    asof_* value comes from the same latest event and a legitimately-NULL
    payload field in that event survives as NULL (matching SQL ASOF JOIN
    semantics) instead of being back-filled from an older event.
    """
    probe_cols = probes.columns
    payload_t = StructType(
        [StructField(c, events.schema[c].dataType, True) for c in payload_cols]
    )
    l = probes.select(
        *probe_cols,
        F.col(probe_ts).alias("__t"),
        F.lit(1).alias("__probe"),
        F.lit(None).cast(payload_t).alias("__payload"),
    )
    r = events.select(
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c)
          if c not in on else F.col(c)
          for c in probe_cols],
        F.col(event_ts).alias("__t"),
        F.lit(0).alias("__probe"),
        F.struct(*[F.col(c).alias(c) for c in payload_cols]).alias("__payload"),
    )
    u = l.unionByName(r)
    # events sort before probes at equal ts → ties count as "at-or-before"
    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn(
        "__payload", F.last(F.col("__payload"), ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("__probe") == 1)
        .select(
            *probe_cols,
            *[F.col(f"__payload.{c}").alias(f"asof_{c}") for c in payload_cols],
        )
    )


def range_join_bins(
    ranges: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    bin_width_seconds: int = 86_400,
) -> DataFrame:
    """Equi-join re-formulation of `start <= ts <= end` (see module doc).

    Returns ranges ⋈ points rows (inner); callers project/aggregate. Both
    inputs keep all their columns; name collisions must be resolved by the
    caller beforehand.
    """
    w = F.lit(bin_width_seconds).cast("long")

    def to_bin(c: Column) -> Column:
        return (c.cast("timestamp").cast("long") / w).cast("long")

    r = ranges.withColumn(
        "__bin",
        F.explode(F.sequence(to_bin(F.col(start_col)), to_bin(F.col(end_col)))),
    )
    p = points.withColumn("__bin", to_bin(F.col(ts_col)))
    joined = r.join(p, "__bin").filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    )
    return joined.drop("__bin")


def resample_ffill(
    events: DataFrame,
    key_cols: list[str],
    ts_seconds_col: str,
    payload_cols: list[str],
    step_seconds: int,
) -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed grid with
    forward-filled values — the feature-pipeline resample (training tables
    want one row per (entity, grid_tick), not raw event times).

    Grid: per key, ticks at every multiple of `step_seconds` from
    ceil(min_ts / step) * step through max_ts (ceiling-aligned so the
    first tick always has an event at-or-before it — no leading nulls;
    ticks are GLOBAL epoch multiples, so grids from different runs/keys
    line up). Values: the repo's asof_join carries the latest payload
    at-or-before each tick as asof_<col>.

    Caller contract: `ts_seconds_col` is an integer epoch-seconds column
    and (key, ts) pairs are unique (pre-dedup with latest_per_group_maxby)
    — both tz-pitfall- and tie-free by construction.

    Scale: the bounds pass is a keyed partial agg (one row per key); the
    grid explode is narrow (span/step rows per key — bound the span
    upstream for dormant keys); the asof composition is one exchange +
    sort, never a BNLJ. Dormant-key state never accumulates: the grid
    stops at each key's own max_ts.
    """
    step = int(step_seconds)
    if step <= 0:
        raise ValueError(f"step_seconds must be positive, got {step}")
    e = F.col(ts_seconds_col)
    bounds = events.groupBy(*key_cols).agg(
        F.min(e).alias("__min_e"), F.max(e).alias("__max_e")
    )
    # a key whose ceil-aligned start overshoots its max has no ticks:
    # Spark's sequence() ERRORS on start > stop (DuckDB's range is empty),
    # so the empty case must be an explicit branch
    start = F.expr(f"(__min_e + {step - 1}) div {step} * {step}")
    grid = bounds.select(
        *key_cols,
        F.explode(
            F.when(
                start <= F.col("__max_e"),
                F.expr(
                    f"sequence((__min_e + {step - 1}) div {step} * {step}, "
                    f"__max_e, {step}L)"
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("grid_ts"),
    )
    return asof_join(
        grid,
        events.select(*key_cols, ts_seconds_col, *payload_cols),
        on=key_cols,
        probe_ts="grid_ts",
        event_ts=ts_seconds_col,
        payload_cols=payload_cols,
    )


def rolling_features(
    events: DataFrame,
    key_cols: list[str],
    ts_seconds_col: str,
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Per-event trailing-window features: for every event, aggregates of
    the SAME key's values over [ts - window_seconds, ts] — count, sum,
    mean, min, max — the standard leakage-free feature-engineering shape
    (each row sees only its own past, never the future).

    Spark-first: one Window.partitionBy(keys).orderBy(ts).rangeBetween
    (-window, 0) — a single hash exchange on the keys + in-partition sort;
    the range frame slides without re-scanning (two pointers per
    partition). No self-join (the naive theta-join formulation is a BNLJ
    and O(n·m)); no Python. Ties share a frame: RANGE frames include ALL
    rows at equal ts, so output is deterministic under duplicate
    timestamps too.

    Scale: cost is the exchange + sort, the frame state is O(rows in the
    largest window); a window function has no partial phase, so a
    dominant key serializes into one task. Emits events' columns +
    roll_{n,sum,mean,min,max}.
    """
    win = int(window_seconds)
    if win <= 0:
        raise ValueError(f"window_seconds must be positive, got {win}")
    et = F.col(ts_seconds_col).cast("long")
    v = F.col(value_col).cast("double")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(et)
        .rangeBetween(-win, 0)
    )
    return events.select(
        "*",
        F.count(v).over(w).alias("roll_n"),
        F.round(F.sum(v).over(w), 6).alias("roll_sum"),
        F.round(F.avg(v).over(w), 6).alias("roll_mean"),
        F.round(F.min(v).over(w), 6).alias("roll_min"),
        F.round(F.max(v).over(w), 6).alias("roll_max"),
    )


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel analysis: per user, how far through the step
    sequence did they get, where step k counts only if it happened
    AFTER the user's earliest completion of step k-1 (strictly ordered
    funnel — the standard product-analytics semantics).

    Output: user_col, `max_step` (0 = never did step 1, len(steps) =
    completed the funnel), `t_first` / `t_last` (first step-1 time,
    completing-step time, as strings; NULL when not reached).

    Shape: ONE pass — filter to funnel events, pivot-style conditional
    min aggregation per user (min ts of each step), then the ordered
    chain is resolved arithmetically on the per-user row: t_k counts
    only if t_k > t_{k-1} (recomputed left-to-right with a running
    expression). One user-keyed partial-combined exchange carrying
    len(steps) timestamps per user; the event stream never shuffles
    rows, only per-user partial minima.

    Note the deliberate approximation debate: strict semantics would
    need the earliest step-k AFTER t_{k-1}, not the global earliest
    step-k. With min-per-step, a user doing B,A,B' (B before A) is
    credited for A→B only if their EARLIEST B follows A — conservative
    (undercounts B' completions). The exact variant needs an
    event-ordered window per user (one sort); this one is the
    single-agg screening pass. Both semantics are mirrored exactly in
    the DuckDB oracle, so the approximation is pinned, not hidden.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    ev = df.filter(F.col(event_col).isin(steps))
    aggs = [
        F.min(
            F.when(F.col(event_col) == s, F.col(ts_col))
        ).alias(f"__t{i}")
        for i, s in enumerate(steps)
    ]
    per_user = ev.groupBy(F.col(user_col)).agg(*aggs)
    # resolve the ordered chain left to right: reached_k iff
    # t_k exists and t_k > effective t_{k-1}
    reached_prev = F.col("__t0").isNotNull()
    max_step = F.when(reached_prev, F.lit(1)).otherwise(F.lit(0))
    prev_t = F.col("__t0")
    for i in range(1, len(steps)):
        ok = reached_prev & F.col(f"__t{i}").isNotNull() & (
            F.col(f"__t{i}") > prev_t
        )
        max_step = F.when(ok, F.lit(i + 1)).otherwise(max_step)
        prev_t = F.when(ok, F.col(f"__t{i}")).otherwise(prev_t)
        reached_prev = ok
    completing_t = prev_t
    return per_user.select(
        F.col(user_col),
        max_step.cast("long").alias("max_step"),
        F.date_format("__t0", "yyyy-MM-dd HH:mm:ss").alias("t_first"),
        F.when(
            max_step > 0,
            F.date_format(completing_t, "yyyy-MM-dd HH:mm:ss"),
        ).alias("t_last"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention grid: users cohorted by the period of their FIRST
    event; for each (cohort_period, period_offset) cell, how many of the
    cohort's users were active — the classic retention triangle.

    Output: `cohort` (period start, string), `offset` (periods since
    cohort, 0-based), `n_active` (distinct users), `n_cohort` (cohort
    size riding on every row), `retention` (6 dp fraction).

    Shape: two partial-combined aggregations — (1) per-user first-event
    period (user-keyed exchange of one timestamp per user), broadcast-
    joined back (user-cohort map is user-count-sized — at extreme user
    counts drop the broadcast hint and let AQE pick SMJ on the user
    key), then (2) (cohort, offset) distinct-user counts. The event
    stream itself never shuffles; only per-user rows and cell counts
    move.
    """
    trunc = F.date_trunc(period, F.col(ts_col))
    firsts = df.groupBy(F.col(user_col)).agg(
        F.min(trunc).alias("__cohort")
    )
    j = df.join(F.broadcast(firsts), user_col)
    # offset in whole periods via datediff on the truncated boundaries —
    # tz-independent (both are period starts; no epoch conversion, which
    # would re-interpret TIMESTAMP_NTZ through the session zone)
    days = F.datediff(trunc.cast("date"), F.col("__cohort").cast("date"))
    cells = j.groupBy(
        F.col("__cohort"),
        F.floor(days / F.lit(7 if period == "week" else 1))
        .cast("long")
        .alias("offset"),
    ).agg(F.count_distinct(user_col).alias("n_active"))
    sizes = firsts.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    return (
        cells.join(F.broadcast(sizes), "__cohort")
        .select(
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort"),
            "offset",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 6).alias(
                "retention"
            ),
        )
    )


def transition_matrix(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order event transition matrix (Markov counts): for each
    (from_event, to_event) pair, how often a user's NEXT event was
    to_event, plus the row-normalized transition probability — the
    sequence-structure view behind funnel design (funnels hypothesize an
    order; this measures the order that actually exists).

    Ordering inside a user is (ts, tiebreak_col) — pass a unique column
    (an event id) to make ties deterministic; without it, equal
    timestamps order arbitrarily and the counts can vary run to run.

    Output: from_event, to_event, n, p (6 dp, rows sum to 1 per
    from_event).

    Shape: one user-keyed exchange + in-partition sort for the lead()
    window (the rolling_features shape — no self-join), then a
    partial-combined (from, to) count agg; the probability window runs
    over the CELL table (|events|² cells at most — tiny). For a
    single-user-dominated stream the keyed window is the skew surface.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(F.col(user_col)).orderBy(*order)
    nxt = df.select(
        F.col(event_col).alias("from_event"),
        F.lead(F.col(event_col)).over(w).alias("to_event"),
    ).filter(F.col("to_event").isNotNull())
    counts = nxt.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("from_event")
    return counts.select(
        "from_event",
        "to_event",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
    )


def ewma(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
    tiebreak_col: str | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average over the time-ordered
    series: s_1 = v_1, s_i = alpha*v_i + (1-alpha)*s_{i-1}.  The linear
    recurrence every monitoring/feature pipeline wants and no window frame
    can express (window aggregates are associative; EWMA is order-coupled).

    Implemented NATIVELY — no Python in the loop: per key, collect the
    (ts, tiebreak, value) structs, array_sort for the deterministic time
    order, then a single higher-order `aggregate` folds the recurrence
    left-to-right while APPENDING each state, so the per-row smoothed
    series comes back from one lambda; posexplode restores one row per
    input.  The fold runs inside codegen'd Catalyst expressions — the
    same FP operations in the same order as a sequential scan, which is
    what makes the result oracle-matchable against a recursive-CTE
    reference.

    Output: key cols + tiebreak/ts + value + `out_col` (rounded 6 dp).
    Rounding-tie convention: Spark's round() is HALF_UP applied to the
    SHORTEST-decimal repr of the double (Java BigDecimal.valueOf), so an
    exact-half shortest repr like 50799.1234375 rounds UP to 50799.123438
    — Python's bankers' round(x, 6) gives ...437 there.  Pure-Python
    references must round via Decimal(repr(s)).quantize(1e-6, HALF_UP)
    (see tests/test_round6_fuzz.py::_round6_half_up).

    Shape: ONE key exchange (the collect_list groupBy); everything after
    is a narrow in-partition fold.  Per-key memory is O(series length) —
    same envelope as any keyed sort-window over the same data; for keys
    whose history exceeds executor memory, slice time first (fold slices
    in order, seeding each slice with the previous slice's final state).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tb = tiebreak_col if tiebreak_col is not None else ts_col
    a = float(alpha)
    fields = [F.col(ts_col)] + (
        [F.col(tb)] if tb != ts_col else []
    ) + [F.col(value_col)]
    packed = df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("__seq")
    )
    states = F.aggregate(
        F.col("__seq"),
        F.lit(None).cast("array<double>"),
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
    exploded = packed.select(
        *keys, F.posexplode(F.arrays_zip(F.col("__seq"), states.alias("__st")))
    )
    return exploded.select(
        *keys,
        F.col("col.__seq")[ts_col].alias(ts_col),
        *([F.col("col.__seq")[tb].alias(tb)] if tb != ts_col else []),
        F.col("col.__seq")[value_col].alias(value_col),
        F.round(F.col("col.__st"), 6).alias(out_col),
    )


def scd2_compress(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    attr_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval derivation: collapse a
    per-key event stream of attribute observations into validity intervals
    [valid_from, valid_to) — one row per RUN of equal consecutive values,
    with the open current interval carrying valid_to = NULL.  This is the
    change-data-capture → dimension-table compaction every warehouse
    pipeline runs; the reference's latest-per-group dedup (src/main.rs:
    252-278) is exactly the degenerate "keep only the current row" case.

    Semantics: order each key's rows by (ts, tiebreak); a row is a CHANGE
    POINT iff its attribute differs from the previous row's (NULL-safe:
    NULL -> 'x' and 'x' -> NULL are both changes, NULL -> NULL is not).
    Each change point opens an interval; valid_to is the next change
    point's valid_from; version numbers the intervals per key from 1.

    Output: key cols + attr + valid_from, valid_to (NULL = current),
    version (long), is_current.

    Shape: ONE key exchange shared by BOTH window passes (lag to flag
    changes, then lead over the filtered change points — same partition
    key, so Catalyst reuses the sort without a second shuffle).  No
    self-joins; per-key state is the window sort buffer.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tb = tiebreak_col if tiebreak_col is not None else ts_col
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(ts_col), F.col(tb)
    )
    prev = F.lag(F.col(attr_col)).over(w)
    first = F.row_number().over(w) == 1
    changed = df.withColumn(
        "__chg", first | ~F.col(attr_col).eqNullSafe(prev)
    ).filter(F.col("__chg"))
    w2 = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(ts_col), F.col(tb)
    )
    out = changed.select(
        *keys,
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_width: int,
    payload_left: list[str],
    payload_right: list[str],
) -> DataFrame:
    """Range × range overlap join WITHOUT a cartesian product: pairs
    (a, b) sharing the equi-keys with a.start <= b.end AND
    b.start <= a.end (closed-interval overlap — the calendar/session/
    validity-window workhorse Spark only offers as a BroadcastNestedLoop
    theta join).

    Mechanics (the range_join_bins idea extended to two range sides):
    both sides explode to the fixed-width bins they span and pair by
    (keys, bin) equi-join + exact boundary filter.  An overlapping pair
    co-occurs in EVERY bin their spans share, so candidates would
    duplicate — the dedup-free fix is to also require
    floor(max(a.start, b.start) / W) == bin: the pair is counted only in
    the bin where their overlap STARTS, which both sides provably span.
    No distinct pass, no post-dedup shuffle.

    Shape: explode (Σ span/W bins per row) → ONE (keys, bin) exchange →
    boundary filter.  Candidate volume ≈ true pairs + same-bin
    non-overlaps; bin_width tunes explode fanout vs candidate waste
    (pick ≈ the typical interval length).  Time-local bins keep the
    shuffle balanced for roughly uniform rates; a pathological mega-
    interval contributes span/W bin rows — cap or split those upstream.
    """
    def binned(df, s, e, cols, side):
        b0 = (F.col(s) / bin_width).cast("long")
        b1 = (F.col(e) / bin_width).cast("long")
        return df.select(
            *[F.col(k) for k in on],
            F.col(s).alias(f"__{side}_s"),
            F.col(e).alias(f"__{side}_e"),
            *[F.col(c) for c in cols],
            F.explode(F.sequence(b0, b1)).alias("__bin"),
        )

    a = binned(left, left_start, left_end, payload_left, "a")
    b = binned(right, right_start, right_end, payload_right, "b")
    joined = a.join(b, [*on, "__bin"])
    overlap = (F.col("__a_s") <= F.col("__b_e")) & (
        F.col("__b_s") <= F.col("__a_e")
    )
    once = (
        F.greatest(F.col("__a_s"), F.col("__b_s")) / bin_width
    ).cast("long") == F.col("__bin")
    return joined.filter(overlap & once).select(
        *on,
        F.col("__a_s").alias(left_start),
        F.col("__a_e").alias(left_end),
        F.col("__b_s").alias(right_start),
        F.col("__b_e").alias(right_end),
        *payload_left,
        *payload_right,
    )


def attribute_last_touch(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    conversion_event: str,
    touch_event: str,
    lookback_seconds: int,
    id_col: str,
    ts_seconds: Column | None = None,
) -> DataFrame:
    """Last-touch attribution: each conversion event credits the most
    recent preceding touch event by the same user, IF it happened within
    the lookback window — the marketing-analytics workhorse, and the
    same carry-forward shape as the as-of join (a join formulation would
    be a per-user theta join; the window formulation is one keyed
    exchange + sort).

    Output: one row per conversion — id, user, epoch seconds, the
    credited touch id (NULL when no touch in window) and the
    touch-to-conversion delay in seconds (NULL likewise).

    Shape: ONE user-keyed exchange + in-partition sort; last(ignorenulls)
    carries the latest touch (ts, id) struct forward to every later row;
    the lookback check is a narrow filter on the carried timestamp.
    Skew note: single-user domination hits the keyed sort exactly like
    rolling_features.
    """
    secs = (
        ts_seconds
        if ts_seconds is not None
        else F.col(ts_col).cast("timestamp").cast("long")
    )
    base = df.select(
        F.col(user_col).alias("user"),
        secs.alias("s"),
        F.col(event_col).alias("ev"),
        F.col(id_col).alias("id"),
    )
    w = (
        Window.partitionBy("user")
        .orderBy(F.col("s"), F.col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("ev") == touch_event,
            F.struct(F.col("s").alias("ts"), F.col("id").alias("tid")),
        ),
        ignorenulls=True,
    ).over(w)
    carried = base.withColumn("__touch", touch)
    conv = carried.filter(F.col("ev") == conversion_event)
    in_window = F.col("__touch").isNotNull() & (
        F.col("__touch.ts") >= F.col("s") - F.lit(int(lookback_seconds))
    )
    return conv.select(
        F.col("id").alias("conversion_id"),
        F.col("user").alias(user_col),
        F.col("s").alias("conv_s"),
        F.when(in_window, F.col("__touch.tid")).alias("touch_id"),
        F.when(in_window, F.col("s") - F.col("__touch.ts"))
        .cast("long")
        .alias("delay_s"),
    )


def attribute_first_touch(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    conversion_event: str,
    touch_event: str,
    lookback_seconds: int,
    id_col: str,
    ts_seconds: Column | None = None,
) -> DataFrame:
    """First-touch attribution — the complement of attribute_last_touch:
    each conversion credits the EARLIEST touch inside its lookback
    window (the discovery channel, where last-touch credits the
    closer).  Different mechanics than last-touch on purpose: a
    carry-forward can only remember the LATEST touch (state is
    overwritten), so first-touch uses an event-time RANGE frame —
    min(struct(ts, id)) over [ts - lookback, ts), which Spark evaluates
    with a sliding frame over the same single keyed sort the carry
    variant needs.  Same one-exchange cost; the frame bound does the
    lookback filtering that last-touch applies as a post-filter.

    Output mirrors attribute_last_touch: conversion_id, user, conv_s,
    touch_id (NULL when no touch in window), delay_s.
    """
    secs = (
        ts_seconds
        if ts_seconds is not None
        else F.col(ts_col).cast("timestamp").cast("long")
    )
    base = df.select(
        F.col(user_col).alias("user"),
        secs.alias("s"),
        F.col(event_col).alias("ev"),
        F.col(id_col).alias("id"),
    )
    w = (
        Window.partitionBy("user")
        .orderBy(F.col("s"))
        .rangeBetween(-int(lookback_seconds), -1)
    )
    first = F.min(
        F.when(
            F.col("ev") == touch_event,
            F.struct(F.col("s").alias("ts"), F.col("id").alias("tid")),
        )
    ).over(w)
    conv = base.withColumn("__touch", first).filter(
        F.col("ev") == conversion_event
    )
    return conv.select(
        F.col("id").alias("conversion_id"),
        F.col("user").alias(user_col),
        F.col("s").alias("conv_s"),
        F.col("__touch.tid").alias("touch_id"),
        (F.col("s") - F.col("__touch.ts")).cast("long").alias("delay_s"),
    )


def count_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Seasonally-adjusted volume anomalies: each (day, hour) bucket's
    event count scored against the (day-of-week, hour) seasonal
    baseline built from the SAME stream — the ops question "is this
    hour's traffic weird FOR a Tuesday 3pm", which a global mean would
    answer wrongly twice a day.

    The baseline is LEAVE-ONE-OUT: each bucket scores against its cell's
    OTHER observations. This matters, not as a nicety — a naive
    include-self baseline caps the largest attainable |z| in an n-
    observation cell at (n−1)/√n ≈ √n (the spike inflates its own mean
    AND std), so with a month of history (4-5 obs/cell) even a 10×
    spike cannot cross z=3. LOO removes the masking: the spike scores
    against the history it deviates from. Implemented from the cell's
    (n, Σ, Σx²) partials natively — no per-bucket re-aggregation.
    Cells with < 3 remaining-obs-degrees (n < 4... strictly r−1 < 1)
    or zero remaining variance yield NULL z and never flag.

    Output: (day, hour, n, expected_n, z, is_anomaly) per observed
    day-hour; expected_n is the LOO mean.

    Shape: one partial-combined (day, hour) count agg → one ≤168-cell
    (n, Σ, Σx²) agg over THAT table → broadcast join back → narrow LOO
    arithmetic — events scan once; everything downstream is day-hour-
    table-sized. Timezone-independent on TIMESTAMP_NTZ like
    seasonal_profile.
    """
    hourly = df.groupBy(
        F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
        F.hour(ts_col).cast("long").alias("hour"),
        F.weekday(ts_col).cast("long").alias("__dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = hourly.groupBy("__dow", "hour").agg(
        F.count(F.lit(1)).alias("__cn"),
        F.sum("n").alias("__sum"),
        F.sum(F.col("n") * F.col("n")).alias("__ss"),
    )
    j = hourly.join(F.broadcast(base), ["__dow", "hour"])
    x = F.col("n").cast("double")
    r = F.col("__cn") - 1  # remaining observations
    # guards double as ANSI-mode division protection (r can be 0)
    m = F.when(r >= 1, (F.col("__sum") - x) / r)
    var = F.when(
        r >= 2,
        F.greatest(
            (F.col("__ss") - x * x - r * m * m) / (r - 1), F.lit(0.0)
        ),
    )
    s = F.sqrt(var)
    z = F.when((r >= 2) & (s > 0), F.round((x - m) / s, 6))
    return j.select(
        "day",
        "hour",
        F.col("n").cast("long").alias("n"),
        F.round(F.when(r >= 1, m), 6).alias("expected_n"),
        z.alias("z"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(float(z_threshold)))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


def interval_union(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    min_gap: float = 0.0,
) -> DataFrame:
    """Coalesce overlapping/adjacent intervals per key into maximal
    disjoint islands — the generic interval-union primitive behind
    sessionization, availability windows, outage stitching, and
    blocklist compaction (SCD2 compaction is its change-aware cousin).
    Intervals whose gap to the running union is ≤ min_gap merge;
    half-open or closed semantics follow from min_gap (0 merges
    touching intervals).

    Deterministic islands via the classic gaps-and-islands shape: sort
    by (start, end) per key, an island BREAKS where start exceeds the
    running max of previous ends by more than min_gap (the running max
    matters — a long interval can swallow several later short ones, and
    comparing against merely the PREVIOUS end would split a covered
    interval out of its island; test-pinned).

    Output per island: key cols + (start, end, n_merged).

    Shape: ONE key exchange + in-partition sort; two windows (running
    max + island cumsum) share it; final island agg rides the same
    partitioning. Invalid intervals (end < start, NULL bounds) are
    dropped (documented, not silently absorbed).
    """
    from pyspark.sql.window import Window as W

    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    base = df.filter(
        s.isNotNull() & e.isNotNull() & (e >= s)
    ).select(*key_cols, s.alias("__s"), e.alias("__e"))
    w = W.partitionBy(*key_cols).orderBy("__s", "__e")
    prev_max_end = F.max("__e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max_end.isNull() | (F.col("__s") > prev_max_end + min_gap),
        1,
    ).otherwise(0)
    marked = base.select(
        *key_cols, "__s", "__e", brk.alias("__brk")
    ).select(
        *key_cols,
        "__s",
        "__e",
        F.sum("__brk").over(w).alias("__island"),
    )
    return (
        marked.groupBy(*key_cols, "__island")
        .agg(
            F.min("__s").alias("start"),
            F.max("__e").alias("end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island")
    )


def next_event_examples(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    history: int = 3,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Supervised next-event training examples from event sequences: for
    every event, the preceding `history` events of the same key (oldest
    first) as the input context and the event itself as the label — the
    sequence-model data-prep pass (next-token prediction over behavioral
    streams; churn/recommendation feature windows).

    Rows whose history is EMPTY (each key's first event) are dropped —
    an example with no input teaches nothing; shorter-than-`history`
    contexts are kept (padding is the trainer's concern, visible via
    n_history). Deterministic under ties when `tiebreak_cols` is given
    (same contract as the flagship window dedup).

    Shape: ONE keyed window exchange (collect_list over ROWS BETWEEN
    `history` PRECEDING AND 1 PRECEDING — a bounded frame, so per-row
    state is `history` events regardless of key length; no self-join,
    no explode). History serializes oldest→newest into an array.

    Output: (key, ts, history array<string>, n_history INT, label).
    """
    from pyspark.sql.window import Window as W

    tcols = [F.col(c) for c in (tiebreak_cols or [])]
    w = (
        W.partitionBy(key_col)
        .orderBy(F.col(ts_col), *tcols)
        .rowsBetween(-int(history), -1)
    )
    ev = F.col(event_col).cast("string")
    return (
        df.select(
            F.col(key_col),
            F.col(ts_col),
            *[F.col(c) for c in (tiebreak_cols or [])],
            ev.alias("__ev"),
        )
        .withColumn("history", F.collect_list("__ev").over(w))
        .filter(F.size("history") > 0)
        .select(
            F.col(key_col),
            F.col(ts_col),
            "history",
            F.size("history").alias("n_history"),
            F.col("__ev").alias("label"),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    phase_col,
    trend_window: int = 12,
    tiebreak_cols: list[str] | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Classical additive decomposition value = trend + seasonal +
    residual, per key — the explainable anomaly baseline one rung above
    seasonal_profile (which reports the grid; this LABELS every point,
    and the residual is what count_anomaly-style alerting should
    threshold on, not the raw value).

      trend    : centered moving average over 2·trend_window+1 ROWS
                 (NULL until the frame is FULL — a shrinking edge frame
                 would fake a flat trend at series boundaries);
      seasonal : per-(key, phase) mean of the detrended points, CENTERED
                 per key (seasonal components sum to ~0, so trend keeps
                 the level — the standard identifiability constraint);
      residual : value − trend − seasonal.

    `phase_col` is a Column expression for the seasonal phase (e.g.
    `F.hour("ts")` for daily-on-hourly); ROWS-frame trend assumes
    near-regular sampling — resample first (time_resample) for
    irregular streams, as classical decomposition requires.

    Shape: ONE keyed window exchange (trend; full-frame check via a
    count over the same frame), one (key, phase)-sized agg broadcast
    back, one key-sized centering agg broadcast back — the value stream
    shuffles once.

    Output: key, ts, tiebreaks, value, phase, trend, seasonal, residual
    (trend/seasonal/residual rounded; NULL where trend is NULL).
    """
    from pyspark.sql.window import Window as W

    tcols = list(tiebreak_cols or [])
    w = (
        W.partitionBy(key_col)
        .orderBy(F.col(ts_col), *[F.col(c) for c in tcols])
        .rowsBetween(-int(trend_window), int(trend_window))
    )
    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c) for c in tcols],
        v.alias("value"),
        phase_col.cast("long").alias("phase"),
    )
    # frame-fullness and trend both reference the RENAMED column — the
    # original value_col name no longer exists after the select
    full = F.count("value").over(w) == (2 * int(trend_window) + 1)
    base = base.withColumn("trend", F.when(full, F.avg("value").over(w)))
    detr = base.withColumn("__d", F.col("value") - F.col("trend"))
    seas = detr.filter(F.col("__d").isNotNull()).groupBy(
        key_col, "phase"
    ).agg(F.avg("__d").alias("__s_raw"))
    center = seas.groupBy(key_col).agg(F.avg("__s_raw").alias("__s_mean"))
    seas_centered = seas.join(F.broadcast(center), key_col).select(
        key_col,
        "phase",
        (F.col("__s_raw") - F.col("__s_mean")).alias("__seasonal"),
    )
    out = detr.join(F.broadcast(seas_centered), [key_col, "phase"], "left")
    return out.select(
        key_col,
        F.col(ts_col),
        *tcols,
        "value",
        "phase",
        F.round("trend", ndigits).alias("trend"),
        F.when(
            F.col("trend").isNotNull(), F.round("__seasonal", ndigits)
        ).alias("seasonal"),
        F.when(
            F.col("trend").isNotNull(),
            F.round(
                F.col("value") - F.col("trend") - F.col("__seasonal"),
                ndigits,
            ),
        ).alias("residual"),
    )


def rolling_corr(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    window_seconds: int,
    tiebreak_cols: list[str] | None = None,
    min_points: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Per-event trailing-window Pearson correlation between two series
    of the same key over [ts − window, ts] — the co-movement monitor
    (price vs volume, score vs length) beside rolling_features'
    single-series stats.

    All five co-moments (n, Σx, Σy, Σxx, Σyy, Σxy) ride the SAME RANGE
    frame in one window pass — one keyed exchange + sort, no self-join;
    the closed form is a narrow projection.  Windows with fewer than
    `min_points` pairs, or zero variance on either side, yield NULL
    (NULLIF-guarded) — a 2-point correlation is ±1 by construction and
    worse than no answer.  Rows where either value is NULL contribute
    nothing but still RECEIVE a correlation (their window's).

    Output: key, ts, tiebreaks, x, y, corr (rounded).
    """
    from pyspark.sql.window import Window as W

    tcols = list(tiebreak_cols or [])
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    base = df.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c) for c in tcols],
        x.alias("__x"),
        y.alias("__y"),
        F.when(both, x).alias("__px"),
        F.when(both, y).alias("__py"),
        F.col(ts_col).cast("timestamp").cast("long").alias("__sec"),
    )
    w = (
        W.partitionBy(key_col)
        .orderBy("__sec")
        .rangeBetween(-int(window_seconds), 0)
    )
    n = F.count("__px").over(w).cast("double")
    sx = F.sum("__px").over(w)
    sy = F.sum("__py").over(w)
    sxx = F.sum(F.col("__px") * F.col("__px")).over(w)
    syy = F.sum(F.col("__py") * F.col("__py")).over(w)
    sxy = F.sum(F.col("__px") * F.col("__py")).over(w)
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = F.when(
        n >= int(min_points),
        cov / F.nullif(F.sqrt(varx * vary), F.lit(0.0)),
    )
    return base.select(
        F.col(key_col),
        F.col(ts_col),
        *tcols,
        F.col("__x").alias(x_col),
        F.col("__y").alias(y_col),
        F.round(corr, ndigits).alias("corr"),
    )


def inactivity_labels(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    horizon_seconds: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Forward-looking churn labels: for every event, whether the key
    goes SILENT for more than `horizon_seconds` afterwards — the
    supervised target for retention/churn models (next_event_examples
    builds the features; this builds the label, leakage-free by
    construction because only the NEXT event's timestamp is read).

    A key's LAST observed event has no successor: labeled churned=true
    with censored=true so survival-aware consumers can exclude it
    (end-of-observation is not evidence of churn — the classic
    censoring trap; a NULL-gap "churn" on the final event inflates
    rates near the data boundary).

    Shape: one lead() per key — ONE keyed exchange + sort; gap and
    labels are narrow arithmetic.

    Output: key, ts, tiebreaks, gap_seconds (NULL on last events),
    churned, censored.
    """
    from pyspark.sql.window import Window as W

    tcols = list(tiebreak_cols or [])
    w = W.partitionBy(key_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in tcols]
    )
    sec = F.col(ts_col).cast("timestamp").cast("long")
    nxt = F.lead(sec).over(w)
    gap = nxt - sec
    return df.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c) for c in tcols],
    ).withColumn("gap_seconds", gap).select(
        "*",
        F.coalesce(
            F.col("gap_seconds") > int(horizon_seconds), F.lit(True)
        ).alias("churned"),
        F.col("gap_seconds").isNull().alias("censored"),
    )


def cusum_changepoints(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    tiebreak_col: str,
    threshold: float = 1.358,
    ndigits: int = 6,
) -> DataFrame:
    """Per-key mean-shift detection via the standardized CUSUM path —
    the monitoring question count_anomaly doesn't answer (that flags
    single outlier points; this finds a sustained LEVEL CHANGE and
    where it happened):

        S_k = Σ_{i≤k} (x_i − x̄) / (s·√n)

    The max |S_k| location is the classic single-changepoint estimate,
    and under the no-change null max|S| behaves like a Brownian-bridge
    sup — the default threshold 1.358 is the 95% point of the
    Kolmogorov distribution, so `flagged` is a ready-made 5% test.

    Ordering is (order_col, tiebreak_col) — a total order, pinned so the
    cumulative path (and therefore the argmax) is engine-deterministic.
    The argmax itself tie-breaks to the EARLIEST position via min_by on
    (−|S|, position) ordering encoded as a struct comparison.

    Output per key: n BIGINT, s_max (max |S_k|, ndigits), at_order
    (order_col value at the argmax — the estimated last-index-before-
    change), flagged BOOLEAN. Keys with fewer than 2 rows or zero
    variance yield NULL s_max / at_order and flagged NULL (undefined,
    not false).

    Shape: ONE hash exchange on the key; the per-key (mean, sd, n)
    moments ride an UNBOUNDED window on the same partition (no second
    exchange, no join-back) and the cumulative sum shares the one
    in-partition sort; then a partial-combined max_by agg to the key
    table. Fully SQL-expressible → hash-checked vs DuckDB.
    """
    x = F.col(value_col).cast("double")
    base = df.filter(
        x.isNotNull() & F.col(order_col).isNotNull()
    ).select(*key_cols, F.col(order_col).alias("__ord"),
             F.col(tiebreak_col).alias("__tb"), x.alias("__x"))
    wkey = Window.partitionBy(*key_cols)
    word = Window.partitionBy(*key_cols).orderBy("__ord", "__tb")
    wrun = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n = F.count(F.lit(1)).over(wkey).cast("double")
    mean = F.avg("__x").over(wkey)
    # population-consistent sample sd (n-1), guarded below
    sd = F.stddev_samp("__x").over(wkey)
    stepped = base.select(
        *key_cols,
        "__ord",
        n.alias("__n"),
        sd.alias("__sd"),
        F.row_number().over(word).alias("__k"),
        (
            (F.sum("__x").over(wrun) - F.avg("__x").over(wkey)
             * F.count(F.lit(1)).over(wrun))
        ).alias("__dev_sum"),
    )
    s_k = F.try_divide(
        F.col("__dev_sum"), F.col("__sd") * F.sqrt(F.col("__n"))
    )
    scored = stepped.select(
        *key_cols,
        "__ord",
        "__k",
        "__n",
        F.abs(s_k).alias("__abs_s"),
    )
    agg = scored.groupBy(*key_cols).agg(
        F.max("__n").cast("long").alias("n"),
        F.round(F.max("__abs_s"), ndigits).alias("s_max"),
        # earliest position among tied maxima: min_by over (-abs_s, k)
        F.min_by(
            F.col("__ord"), F.struct((-F.col("__abs_s")).alias("neg"),
                                     F.col("__k").alias("k"))
        ).alias("__at"),
        F.max(F.col("__abs_s").isNotNull()).alias("__defined"),
    )
    return agg.select(
        *key_cols,
        "n",
        "s_max",
        F.when(F.col("__defined"), F.col("__at")).alias("at_order"),
        F.when(
            F.col("__defined"), F.col("s_max") > F.lit(float(threshold))
        ).alias("flagged"),
    )


def interpolate_linear(
    events: DataFrame,
    key_cols: list[str],
    ts_seconds_col: str,
    value_col: str,
    step_seconds: int,
    ndigits: int = 6,
) -> DataFrame:
    """Per-key resample onto a fixed grid with LINEAR interpolation —
    the smooth twin of resample_ffill (LOCF is right for state-like
    series: prices, settings; linear is right for flow-like series:
    meters, cumulative counters, sensor readings):

        v(t) = v0 + (v1 − v0) · (t − t0) / (t1 − t0)

    for the bracketing observations (t0, v0), (t1, v1).  Grid ticks
    BEFORE the first or AFTER the last observation are not extrapolated
    (NULL value) but kept as rows — the caller sees coverage gaps
    explicitly.  A tick landing exactly on an observation returns that
    observation's value (the formula degenerates to v0 — no epsilon
    logic).

    Grid: per key, every multiple of `step_seconds` from ceil(min_ts /
    step)·step through max_ts — identical alignment contract to
    resample_ffill (global epoch multiples; grids line up across keys
    and runs).  Caller contract likewise: integer epoch seconds, (key,
    ts) unique.

    Output: key cols + (grid_ts BIGINT, value rounded).

    Shape: one keyed bounds agg (tick count per key is span/step —
    bound spans upstream for dormant keys), a narrow sequence-explode
    for the grid, then ONE union + hash exchange + in-partition sort:
    last(ignorenulls) carries (t0, v0) forward to each tick and
    first(ignorenulls) over the FOLLOWING frame carries (t1, v1)
    backward — the asof_join union-and-carry trick, run in both
    directions over one sort, no join, no second exchange.  Fully
    SQL-expressible → hash-checked vs DuckDB.
    """
    ts = F.col(ts_seconds_col).cast("long")
    obs = events.filter(
        ts.isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *key_cols,
        ts.alias("__ts"),
        F.col(value_col).cast("double").alias("__v"),
    )
    step = int(step_seconds)
    bounds = obs.groupBy(*key_cols).agg(
        F.min("__ts").alias("__lo"), F.max("__ts").alias("__hi")
    )
    first_tick = (F.ceil(F.col("__lo") / F.lit(step)) * step).cast("long")
    # a key whose ceil-aligned first tick exceeds its max_ts (e.g. one
    # observation between grid points) has NO ticks -- sequence() with
    # start > stop throws, so guard with an empty array exactly as
    # resample_ffill does: the key simply emits nothing
    grid = bounds.select(
        *key_cols,
        F.explode(
            F.when(
                first_tick <= F.col("__hi"),
                F.sequence(
                    first_tick, F.col("__hi"), F.lit(step).cast("long")
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("__ts"),
    )
    tagged = obs.select(
        *key_cols, "__ts", "__v", F.lit(1).alias("__is_obs")
    ).unionByName(
        grid.select(
            *key_cols, "__ts", F.lit(None).cast("double").alias("__v"),
            F.lit(0).alias("__is_obs"),
        )
    )
    # obs sorts before its co-timestamped tick (desc on the tag) so the
    # backward carry sees the observation AT the tick itself
    word = Window.partitionBy(*key_cols).orderBy("__ts", F.desc("__is_obs"))
    wback = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wfwd = word.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_ts = F.when(F.col("__is_obs") == 1, F.col("__ts"))
    carried = tagged.select(
        *key_cols,
        "__ts",
        "__is_obs",
        F.last(obs_ts, ignorenulls=True).over(wback).alias("__t0"),
        F.last("__v", ignorenulls=True).over(wback).alias("__v0"),
        F.first(obs_ts, ignorenulls=True).over(wfwd).alias("__t1"),
        F.first("__v", ignorenulls=True).over(wfwd).alias("__v1"),
    )
    ticks = carried.filter(F.col("__is_obs") == 0)
    interp = (
        F.col("__v0")
        + (F.col("__v1") - F.col("__v0"))
        * (F.col("__ts") - F.col("__t0")).cast("double")
        / (F.col("__t1") - F.col("__t0")).cast("double")
    )
    # exact hit first: a tick ON an observation needs no forward bracket
    # (the last observation has none when it lands on the grid)
    value = F.when(
        F.col("__t0") == F.col("__ts"), F.col("__v0")
    ).when(
        F.col("__t0").isNotNull() & F.col("__t1").isNotNull(), interp
    )
    return ticks.select(
        *key_cols,
        F.col("__ts").alias("grid_ts"),
        F.round(value, ndigits).alias("value"),
    )


def _pelt_segments(
    xs: "list[float]", penalty: float, min_size: int
) -> list[int]:
    """PELT (Killick et al. 2012, public algorithm) over a single series
    with the Gaussian mean-shift cost C(a,b) = within-segment SSE from
    prefix sums. Returns the sorted list of changepoint END indices
    (1-based, exclusive starts), i.e. each t in the result is the last
    index of a segment. Exact: PELT's pruning provably never removes an
    optimal candidate, so the result equals the O(n^2) optimal-partition
    DP (pinned in pytest)."""
    n = len(xs)
    s1 = [0.0] * (n + 1)
    s2 = [0.0] * (n + 1)
    for i, v in enumerate(xs):
        s1[i + 1] = s1[i] + v
        s2[i + 1] = s2[i] + v * v

    def cost(a: int, b: int) -> float:
        # SSE of xs[a:b] (0-based, exclusive b)
        m = b - a
        sm = s1[b] - s1[a]
        return (s2[b] - s2[a]) - sm * sm / m

    f = [0.0] * (n + 1)
    f[0] = -penalty
    prev = [0] * (n + 1)
    cands = [0]
    for t in range(min_size, n + 1):
        best, barg = None, 0
        for s in cands:
            if t - s < min_size:
                continue
            v = f[s] + cost(s, t) + penalty
            # strict < keeps the EARLIEST best split deterministically
            if best is None or v < best - 1e-12:
                best, barg = v, s
        if best is None:
            continue
        f[t], prev[t] = best, barg
        cands = [
            s for s in cands if f[s] + cost(s, t) <= f[t] + 1e-12
        ] + [t]
    cuts = []
    t = n
    while t > 0:
        cuts.append(t)
        t = prev[t]
    return sorted(cuts)


def changepoints_pelt(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    tiebreak_col: str,
    penalty: float | None = None,
    min_size: int = 2,
    ndigits: int = 6,
) -> DataFrame:
    """Per-key MULTIPLE-changepoint segmentation via PELT — the
    completion of the changepoint family rung: cusum_changepoints
    estimates ONE level shift and tests it; this finds the optimal
    number AND locations of mean shifts by exact penalized
    minimization, min Σ_segments SSE + β·(#segments), with PELT's
    pruning keeping the scan linear-expected (and provably exact — the
    pytest pin compares against the unpruned O(n²) DP).

    β defaults to the per-key BIC plug-in 2·σ̂²·ln(n) (σ̂² the key's
    overall variance) — the standard default; pass `penalty` to
    override globally. `min_size` floors segment length (degenerate
    1-point segments chase noise).

    Ordering is (order_col, tiebreak_col) — a pinned total order, so
    segment boundaries are engine-deterministic. NULL values/orders are
    dropped; keys with fewer than 2·min_size points return one whole-key
    segment.

    INPUT CONTRACT (documented like bh_correction's): one key's series
    must fit a task — series are per-entity monitoring streams, not the
    corpus; the per-key state PELT keeps is O(candidates), which its
    pruning bounds. Shape: ONE hash exchange on the key
    (applyInPandas), Arrow-batched; inside, prefix-sum costs in plain
    Python — no second exchange, nothing driver-sized.

    Output: one row per (key, segment): seg (1-based), start_order,
    end_order (order_col values bounding the segment inclusively),
    n BIGINT, mean (segment mean, ndigits). Rows-only at the driver
    (the DP is not SQL-expressible); pytest pins exactness vs the
    unpruned DP, planted-shift recovery, penalty monotonicity, and
    repartition-determinism.
    """
    import pandas as pd

    if min_size < 1:
        raise ValueError(f"min_size must be >= 1, got {min_size}")
    if penalty is not None and penalty <= 0:
        raise ValueError(f"penalty must be > 0, got {penalty}")

    order_field = df.schema[order_col]
    key_fields = [df.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [
            StructField("seg", LongType()),
            StructField("start_order", order_field.dataType),
            StructField("end_order", order_field.dataType),
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
        ]
    )

    # dedupe (tiebreak may equal order for already-unique series)
    cols = list(dict.fromkeys([*key_cols, order_col, tiebreak_col,
                               value_col]))
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
    ).select(*cols)

    pen = penalty
    msz = int(min_size)
    nd = int(ndigits)
    ocol, tcol, vcol = order_col, tiebreak_col, value_col

    def segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ocol, tcol], kind="mergesort")
        xs = pdf[vcol].astype(float).tolist()
        orders = pdf[ocol].tolist()
        n = len(xs)
        keys = {k: pdf[k].iloc[0] for k in key_cols}
        if n == 0:
            return pd.DataFrame(
                columns=[*key_cols, "seg", "start_order", "end_order",
                         "n", "mean"]
            )
        beta = pen
        if beta is None:
            mu = sum(xs) / n
            var = sum((v - mu) ** 2 for v in xs) / n
            import math

            beta = max(2.0 * var * math.log(max(n, 2)), 1e-12)
        if n < 2 * msz:
            cuts = [n]
        else:
            cuts = _pelt_segments(xs, float(beta), msz)
        rows, start = [], 0
        for i, end in enumerate(cuts):
            seg = xs[start:end]
            rows.append(
                {
                    **keys,
                    "seg": i + 1,
                    "start_order": orders[start],
                    "end_order": orders[end - 1],
                    "n": len(seg),
                    "mean": round(sum(seg) / len(seg), nd),
                }
            )
            start = end
        return pd.DataFrame(rows)

    return base.groupBy(*key_cols).applyInPandas(segment, out_schema)
