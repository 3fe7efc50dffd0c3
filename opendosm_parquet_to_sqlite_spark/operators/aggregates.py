"""Aggregations: the consumer group-bys implied by the reference's indexes.

/root/reference/src/main.rs:199-206 creates filter/group indexes on
premise_type/state/district/item_group/item_category — the columns consumers
aggregate on. These map to plain hash aggregates; Spark gives map-side
partial aggregation automatically, so at 100 TB the shuffle carries one
partial row per (mapper, group), not the fact rows.

Float determinism note: SUM/AVG over doubles is order-sensitive; results are
rounded at the query surface (bounded decimals) so oracle comparison is
stable. The physical plan is unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the bench headline.

    Pure hash aggregate with partial aggregation; the heaviest scan in the
    fixture set, so it is the throughput yardstick for the 100 TB story.
    """
    li = lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def uniqueness_report(df: DataFrame, key_col: str) -> DataFrame:
    """count(*) vs count(distinct key) — the reference's UNIQUE INDEX as a
    query (src/main.rs:198,204)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col(key_col)).alias("n_keys"),
    )


def profile_nulls(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Data-quality profile: null count per column in ONE scan (one agg, no
    per-column jobs). The training-pipeline pre-flight check — at 100 TB a
    per-column loop would re-scan the table N times; this is a single pass
    with partial aggregation."""
    use = cols or df.columns
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in use
    ] + [F.count(F.lit(1)).alias("n_rows")]
    return df.agg(*aggs)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Generic top-k rows per group (the flagship's k=1 generalized).

    row_number over (group, order DESC): Spark's WindowGroupLimit prunes to
    k rows per group BEFORE the exchange, so the shuffle carries at most
    k·groups rows per partition."""
    from pyspark.sql.window import Window

    order = [F.col(order_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Session-window aggregate: events per key merge while consecutive
    gaps are <= `gap` (Spark merges at exactly the gap; strictly greater
    starts a new session). Emits (keys, session_start, n_events[, avg]).

    Scale shape: session_window is a single hash exchange on the keys with
    in-partition session merging — state is bounded per key.
    Oracle-expressible via gaps-and-islands SQL.
    """
    w = F.session_window(F.col(ts_col), gap)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.avg(value_col), 4).alias("avg_value"))
    return (
        df.groupBy(w, *key_cols)
        .agg(*aggs)
        .select(
            *key_cols,
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            *(["avg_value"] if value_col is not None else []),
        )
    )


def sketch_distinct(
    df: DataFrame, group_cols: list[str], target_col: str, rsd: float = 0.02
) -> DataFrame:
    """Approximate distinct count per group via HyperLogLog++
    (approx_count_distinct). The sketch is fixed-size (~1.5/rsd² bytes) and
    merges associatively, so the shuffle carries one small sketch per
    (mapper, group) regardless of cardinality — the 100 TB answer when an
    exact count_distinct would shuffle every distinct value. Error bound
    is pinned by test (|approx-exact|/exact within ~3·rsd)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(target_col, rsd=rsd).alias("approx_distinct")
    )


def sketch_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: list[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Approximate quantiles per group (percentile_approx / KLL-style
    sketch): mergeable fixed-size state instead of a full sort. Rank error
    <= 1/accuracy — test-pinned against exact percentiles.

    Emits one row per probability — (group_cols..., prob, value) — rather
    than an array column, so the result is directly queryable (and hashable
    by downstream tabular tooling)."""
    agg = df.groupBy(*group_cols).agg(
        F.percentile_approx(
            value_col, F.array(*[F.lit(p) for p in probs]), accuracy
        ).alias("__quantiles")
    )
    prob_arr = F.array(*[F.lit(float(p)) for p in probs])
    return agg.select(
        *group_cols,
        F.posexplode("__quantiles").alias("__pos", "value"),
    ).select(
        *group_cols,
        prob_arr.getItem(F.col("__pos")).cast("double").alias("prob"),
        F.round("value", 6).alias("value"),
    )


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    width: str = "1 hour",
    extra_group: list[str] | None = None,
) -> DataFrame:
    """Event-time tumbling-window aggregate.

    Emits window_start as a string so the same result is expressible in the
    DuckDB oracle via date_trunc.
    """
    w = F.window(F.col(ts_col), width)
    return (
        df.groupBy(w.alias("__w"), *(extra_group or []))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
        )
        .select(
            F.date_format("__w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *(extra_group or []),
            "n_events",
            "avg_value",
        )
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: str | list[str] | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """Fixed-bin equi-width histogram per group — the distribution panel of
    a dataset card (token-length histograms, quality-score histograms,
    event-value histograms), computed without collecting anything.

    Bin bounds come from the group's own [min, max]: bin i covers
    [min + i*w, min + (i+1)*w) with w = (max-min)/n_bins, the last bin
    closed so max lands in bin n_bins-1.  Groups where max == min put
    every row in bin 0 (width 0 is reported as such).  NULL values are
    excluded (they are a count in profile_nulls, not a position in a
    distribution).  Empty bins are ABSENT rather than zero-filled —
    downstream renderers densify; the engine does not ship zeros.

    Output: group cols + `bin` (0-based), `bin_lo`, `bin_hi` (6 dp),
    `n` (count).

    Shape: two aggregation passes, both map-side partial-combined —
    (1) per-group min/max (group-count-sized result, broadcast back),
    (2) per-(group, bin) counts.  The data is scanned twice and each
    exchange carries partial rows, never the corpus; at 100 TB both
    passes are scan-bound.  Float note: bin edges are computed with the
    same double arithmetic ((v-min)/w, floored, clamped) in Spark and
    the DuckDB oracle, so edge assignment is bit-identical.
    """
    groups: list[str]
    if group_cols is None:
        groups = []
    elif isinstance(group_cols, str):
        groups = [group_cols]
    else:
        groups = list(group_cols)
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull())
    gb = base.groupBy(*groups) if groups else base.groupBy()
    bounds = gb.agg(
        F.min(v).alias("__lo"), F.max(v).alias("__hi")
    ).select(
        *[F.col(g).alias(f"__g_{g}") for g in groups], "__lo", "__hi"
    )
    if groups:
        cond = None
        for g in groups:
            c = F.col(g).eqNullSafe(F.col(f"__g_{g}"))
            cond = c if cond is None else cond & c
        joined = base.join(F.broadcast(bounds), cond)
    else:
        joined = base.crossJoin(F.broadcast(bounds))
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    bin_col = F.when(w > 0, F.least(
        F.floor((v - F.col("__lo")) / w), F.lit(n_bins - 1)
    )).otherwise(F.lit(0)).cast("long")
    binned = joined.select(
        *groups, bin_col.alias("bin"), "__lo", "__hi", w.alias("__w")
    )
    return (
        binned.groupBy(*groups, "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("__lo").alias("__lo"),
            F.first("__w").alias("__w"),
        )
        .select(
            *groups,
            "bin",
            F.round(F.col("__lo") + F.col("bin") * F.col("__w"), 6).alias("bin_lo"),
            F.round(F.col("__lo") + (F.col("bin") + 1) * F.col("__w"), 6).alias("bin_hi"),
            "n",
        )
    )


def group_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: str | list[str] | None = None,
    percentiles: list[float] = (0.5, 0.95, 0.99),
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group percentile table in LONG format — the latency/size SLO
    panel (p50/p95/p99 per event type, token-count percentiles per
    source) without collecting anything.

    Output: group cols + `pct` (the requested fraction) + `value`
    (6 dp). NULL values are excluded; empty groups are absent.

    Shape: ONE aggregation computes all requested percentiles in a
    single pass (array-typed percentile), then a narrow posexplode to
    long format — the exchange carries one array per group. approx=True
    swaps in percentile_approx (mergeable KLL-style sketch, map-side
    partials — the 100 TB path); exact `percentile` is sort-based per
    group and is the oracle-parity path (DuckDB quantile_cont, same
    linear interpolation).
    """
    groups: list[str]
    if group_cols is None:
        groups = []
    elif isinstance(group_cols, str):
        groups = [group_cols]
    else:
        groups = list(group_cols)
    pcts = [float(p) for p in percentiles]
    v = F.col(value_col).cast("double")
    arr = F.array(*[F.lit(p) for p in pcts])
    agg = (
        F.percentile_approx(v, arr, F.lit(int(accuracy)))
        if approx
        else F.percentile(v, arr)
    )
    base = df.groupBy(*groups) if groups else df.groupBy()
    stats = base.agg(agg.alias("__q"))
    return stats.select(
        *groups,
        F.posexplode("__q").alias("__i", "__v"),
    ).select(
        *groups,
        F.element_at(F.lit(pcts), F.col("__i") + 1).alias("pct"),
        F.round("__v", 6).alias("value"),
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str, base2: bool = True
) -> DataFrame:
    """Mutual information between two categorical columns, reported as the
    per-cell decomposition: for every observed (x, y) cell, the joint
    probability, pointwise mutual information, and the cell's contribution
    p(x,y)·pmi to I(X;Y) = Σ contributions.  The dataset-card statistic
    for spotting coupled metadata (is `lang` informative about `source`?
    is a quality label leaking the domain?) before a sampling pass
    stratifies on the wrong axis.

    NULL categories are kept as their own level (groupBy treats NULL as a
    group; the window sums do the same), so missing metadata participates
    in the dependence measure instead of silently vanishing.

    Output: x, y, n (long), p_xy, pmi, mi_contrib (all 6 dp).  Total MI =
    sum(mi_contrib); it is left un-collapsed so the oracle comparison
    covers every cell, not one scalar.

    Shape: ONE partial-combined count aggregation over the data (the only
    exchange that sees data-scale rows); the marginals are window sums
    over the CELL table — |X|·|Y| rows, metadata-sized by assumption —
    so the unpartitioned windows that follow are driver-trivial single
    partitions of a tiny frame, not a scale hazard.
    """
    from pyspark.sql.window import Window

    cells = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    w_x = Window.partitionBy("x")
    w_y = Window.partitionBy("y")
    total = F.sum("n").over(w_all)
    p_xy = F.col("n") / total
    p_x = F.sum("n").over(w_x) / total
    p_y = F.sum("n").over(w_y) / total
    log = (lambda c: F.log2(c)) if base2 else (lambda c: F.log(c))
    pmi = log(p_xy / (p_x * p_y))
    return cells.select(
        "x",
        "y",
        F.col("n").cast("long").alias("n"),
        F.round(p_xy, 6).alias("p_xy"),
        F.round(pmi, 6).alias("pmi"),
        F.round(p_xy * pmi, 6).alias("mi_contrib"),
    )


def heavy_hitters_mg(
    df: DataFrame,
    col: str,
    k: int,
    capacity: int = 4096,
) -> DataFrame:
    """Approximate top-k frequent items via per-partition Misra-Gries
    summaries (public algorithm) — the bounded-memory path for item
    universes too large to hash-aggregate exactly (raw vocabulary over a
    100 TB corpus: the exact groupBy's hash tables are vocabulary-sized
    PER TASK; an MG summary is `capacity`-sized no matter what streams
    through it).

    Per partition: maintain at most `capacity` counters; when a batch
    overflows the table, subtract the (capacity+1)-th largest count
    from every counter and drop the non-positive ones (the batched
    decrement step).  Each partition's total decrement Δp satisfies
    Δp·(capacity+1) <= n_p, so after summing summaries per item:

        true - N/(capacity+1) <= est <= true

    and every item with true count > N/(capacity+1) SURVIVES — the
    classic MG guarantee, test-pinned.  With capacity >= the distinct
    count no decrement ever fires and the result is EXACT — which is
    what makes the operator oracle-checkable at fixture scale while the
    small-capacity regime carries the pytest error-bound pins.

    Shape: mapInPandas (Arrow batches; the inner merge loops over the
    batch's DISTINCT items via value_counts, not rows) emitting
    <= capacity rows per partition → one (item, partial-sum) exchange of
    summary rows only → deterministic TakeOrdered top-k (count DESC,
    item ASC).  The raw stream never shuffles.
    """
    return mg_summary(df, col, capacity).orderBy(
        F.col("est_count").desc(), F.col("item")
    ).limit(int(k))


def mg_summary(df: DataFrame, col: str, capacity: int = 4096) -> DataFrame:
    """The capacity-bounded (item, est_count) summary heavy_hitters_mg
    ranks — exposed separately because the summary itself is the
    MERGEABLE object (standing heavy-hitter state maintains summaries,
    not top-k lists: a top-k list forgets the runner-up that the next
    batch promotes). Plan: per-partition MG via mapInPandas emitting
    ≤ capacity rows per partition, then one summary-row exchange; the
    raw stream never shuffles."""
    import pandas as pd

    cap = int(capacity)
    colname = col

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[colname].dropna().value_counts()
            for item, cnt in vc.items():
                counters[item] = counters.get(item, 0) + int(cnt)
            if len(counters) > cap:
                vals = sorted(counters.values(), reverse=True)
                delta = vals[cap]
                counters = {
                    i: c - delta for i, c in counters.items() if c > delta
                }
        yield pd.DataFrame(
            {"item": list(counters), "mg_count": list(counters.values())}
        )

    summaries = df.select(F.col(col).cast("string").alias(colname)).mapInPandas(
        mg, "item string, mg_count long"
    )
    return summaries.groupBy("item").agg(
        F.sum("mg_count").alias("est_count")
    )


def cm_build(
    df: DataFrame,
    item_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 42,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch build [Cormode & Muthukrishnan 2005]: a
    (depth × width) count table answering point frequency queries with
    one-sided error — estimates only ever OVERcount (est ≥ true;
    est ≤ true + N·e/width with prob ≥ 1−e^−depth). The frequency twin
    of the HLL/KLL/Misra-Gries family already here: HLL answers "how
    many distinct", KLL "what quantile", MG "who is heavy", CM "how
    often is X" — and unlike MG it answers for EVERY item, not just
    survivors.

    Output: (row, bucket, cnt) — depth·width cells max, independent of
    corpus size. Mergeable by construction: sketches of disjoint slices
    sum cell-wise, so the build partial-combines map-side. Hash rows are
    xxhash64(item, seed·100+row) — engine-deterministic, so the sketch
    is a pure function of (items, params).

    Shape: narrow depth-way explode of (row, bucket) pairs → ONE
    partial-combined aggregation carrying ≤ depth·width cells per
    mapper. The item stream never shuffles.
    """
    w = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("row"),
                (
                    F.abs(F.xxhash64(F.col(item_col), F.lit(seed * 100 + d)))
                    % width
                ).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"), w.alias("__w"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.sum("__w").alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Point-frequency estimates for `items`: min over the depth cells
    each item hashes to (absent cells are true zeros). Output: input
    columns + `est` (long). The sketch is depth·width rows — broadcast
    by size; the probe is depth LEFT joins collapsed into one via the
    exploded (row, bucket) key. Items with no cell hit estimate 0."""
    probes = items.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        (
                            F.abs(
                                F.xxhash64(
                                    F.col(item_col), F.lit(seed * 100 + d)
                                )
                            )
                            % width
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select("*", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy(*items.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def rolling_distinct_hll(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    window_days: int = 7,
    lg_k: int = 12,
) -> DataFrame:
    """Rolling N-day distinct counts (the DAU/WAU/MAU family) the way
    they are computable at 100 TB: ONE HLL sketch per day, then a
    sliding window of sketch UNIONS — because distinct counts do not
    sum, the exact rolling form must re-scan N days of raw events per
    output row (or keep a giant distinct state), while sketch unions
    are day-table-sized and reuse each day's scan exactly once.

    Output per day: (day, n_events, distinct_day, distinct_window) —
    the daily exact-regime estimate and the trailing window_days union
    estimate (both Apache DataSketches HLL, relative error ~1.6% at
    lg_k=12 [Spark's hll_sketch_agg default config family]).

    Shape: one (day)-keyed partial-combined sketch agg over the events
    → a ≤days-row table → ROWS-frame window union — the window
    operates on KB sketches, never raw events. Rows-only in the
    registry (sketch estimates are engine-specific); accuracy is
    pinned vs exact rolling distinct in pytest.
    """
    from pyspark.sql.window import Window as W

    daily = df.groupBy(
        F.date_format(ts_col, "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.hll_sketch_agg(F.col(id_col), F.lit(int(lg_k))).alias("__sk"),
    )
    w = W.orderBy("day").rowsBetween(-(window_days - 1), 0)
    # NOTE: single-partition window over the DAY table (days-count rows,
    # KB sketches) — deliberately driver-scale, like every calendar table
    return daily.select(
        "day",
        F.col("n_events").cast("long"),
        F.hll_sketch_estimate("__sk").cast("long").alias("distinct_day"),
        F.hll_sketch_estimate(
            F.hll_union_agg("__sk").over(w)
        ).cast("long").alias("distinct_window"),
    ).orderBy("day")


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    q: float = 0.5,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact weighted quantile per group: the smallest value whose
    cumulative weight reaches q·total — the statistic behind "median
    document length weighted by token count" or "median price weighted
    by quantity", where the unweighted median answers a different (and
    usually wrong) question.

    Determinism is engineered, not assumed: weights COLLAPSE per
    distinct value first (one partial-combined agg), so the cumulative
    sum walks distinct values in a total order — a row-level cumsum
    would break ties by partition-dependent row order and flap between
    equal-valued rows. NULL values and NULL/≤0 weights are excluded
    (a zero-weight observation cannot carry a quantile).

    Output per group: (group..., wq) — wq NULL for groups with no
    positive-weight rows. Fully SQL-expressible → hash-checked.

    Shape: (group, value)-keyed partial-combined weight agg → one
    group-keyed window cumsum over the DISTINCT-value table (≤ distinct
    values per group, not rows) → min-satisfying-value agg.
    """
    from pyspark.sql.window import Window as W

    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    groups = list(group_cols or [])
    v = F.col(value_col)
    w = F.col(weight_col).cast("double")
    base = df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
    per_val = base.groupBy(*groups, v.alias("__v")).agg(
        F.sum(w).alias("__w")
    )
    win = W.partitionBy(*groups).orderBy("__v").rowsBetween(
        W.unboundedPreceding, 0
    )
    tot = W.partitionBy(*groups)
    cum = per_val.select(
        *groups,
        "__v",
        F.sum("__w").over(win).alias("__cum"),
        F.sum("__w").over(tot).alias("__tot"),
    )
    hit = cum.filter(F.col("__cum") >= F.lit(float(q)) * F.col("__tot"))
    if groups:
        return hit.groupBy(*groups).agg(F.min("__v").alias("wq"))
    return hit.agg(F.min("__v").alias("wq"))


# cumulative Poisson(1) probabilities, scaled to the 32-bit hash space;
# weight w is assigned when the uniform hash falls in [F(w-1), F(w)) —
# capped at 5 (P[X>5] ~ 0.06%), the standard truncation
_POIS1_CUM = [0.367879, 0.735759, 0.919699, 0.981012, 0.996340, 1.0]


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicates: int = 50,
    alpha: float = 0.05,
    group_cols: list[str] | None = None,
    namespace: str = "boot",
    portable_hash: bool = True,
) -> DataFrame:
    """Bootstrap confidence interval for the per-group MEAN via the
    POISSON bootstrap [Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012]: the classic resample-n-rows
    bootstrap needs global coordination (exactly n draws with
    replacement), which is exactly what a distributed scan cannot do —
    but each row's multiplicity in a replicate converges to Poisson(1),
    which IS per-row-decidable. Each row gets a deterministic
    Poisson(1) weight per replicate from the md5 hash of (namespace,
    replicate, id) via the inverse-CDF table above (capped at 5,
    P ≈ 0.06% truncated) — reruns, retries, and repartitions all see
    identical replicates, and the whole computation is one narrow
    explode (×B) + one partial-combined agg + a percentile over B
    replicate means.

    Output per group: (group..., mean_value, ci_lo, ci_hi, n_rows) —
    percentile interval at level 1−alpha over the replicate means,
    6 dp. NULL values are excluded. B=50 puts ~2 replicates outside a
    95% interval — push B up for tighter quantile resolution; cost is
    linear in B but stays one scan.
    """
    from ..parallelism import fan_out

    groups = list(group_cols or [])
    v = F.col(value_col).cast("double")
    # The ×B explode and its per-(row, replicate) md5 run MAP-SIDE on the
    # scan's partitioning; a small/unsplittable source would serialize
    # the whole weight derivation on one core (measured: 8.1 s of an
    # 8.5 s wall in ONE task at sf0.1). fan_out spreads the narrow base
    # rows once, BEFORE the ×B multiplication; no-op when the scan is
    # already at cluster parallelism (guide §2.5).
    base = fan_out(
        df.filter(v.isNotNull()).select(
            *groups, v.alias("__v"), F.col(id_col).alias("__id")
        )
    )
    rep = base.select(
        *groups,
        "__v",
        "__id",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))
        ).alias("__b"),
    )
    # Uniform bits from the md5 prefix, compared LEXICOGRAPHICALLY
    # against precomputed 13-hex-digit thresholds (rate_to_hex's trick:
    # P[hex13 < fmt(c·16^13)] == c for a uniform digest) — no hex→int
    # conversion at all; conv() was measured ~40% of the weight-derive
    # cost. md5 instead of xxhash64 keeps the weights engine-portable
    # (the whole CI hash-checks against DuckDB); portable_hash=False
    # swaps in xxhash64 — cheaper still, engine-specific — once the
    # portable path has certified the implementation.
    if not portable_hash:
        u = (
            F.abs(
                F.xxhash64(F.lit(namespace), F.col("__b"), F.col("__id"))
            )
            % 1048576
        ) / 1048576.0
        w = F.lit(len(_POIS1_CUM) - 1)
        for k in range(len(_POIS1_CUM) - 2, -1, -1):
            w = F.when(u < _POIS1_CUM[k], F.lit(k)).otherwise(w)
    else:
        h13 = F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(namespace),
                    F.col("__b").cast("string"),
                    F.col("__id").cast("string"),
                )
            ),
            1,
            13,
        )
        ths = [
            format(int(c * 16**13), "013x") for c in _POIS1_CUM[:-1]
        ]
        w = F.lit(len(_POIS1_CUM) - 1)
        for k in range(len(ths) - 1, -1, -1):
            w = F.when(h13 < ths[k], F.lit(k)).otherwise(w)
    # a replicate can draw weight 0 for EVERY row of a small group
    # (P = e^-n; 37% for a 1-row group) — such replicates yield NULL
    # means and drop out of the percentile (both engines skip NULLs),
    # rather than dividing by zero
    wsum = F.sum("__w")
    means = (
        rep.select(*groups, "__b", "__v", w.alias("__w"))
        .groupBy(*groups, "__b")
        .agg(
            F.when(
                wsum > 0, F.sum(F.col("__v") * F.col("__w")) / wsum
            ).alias("__m")
        )
    )
    lo_q, hi_q = alpha / 2, 1 - alpha / 2
    per_group = means.groupBy(*groups).agg(
        F.round(
            F.percentile(F.col("__m"), F.lit(lo_q)), 6
        ).alias("ci_lo"),
        F.round(
            F.percentile(F.col("__m"), F.lit(hi_q)), 6
        ).alias("ci_hi"),
    )
    stats = base.groupBy(*groups).agg(
        F.round(F.avg("__v"), 6).alias("mean_value"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    if groups:
        out = stats.join(per_group, groups)
    else:
        out = stats.crossJoin(per_group)
    return out.select(
        *groups, "mean_value", "ci_lo", "ci_hi",
        F.col("n_rows").cast("long"),
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-DEPTH histogram: bucket edges at the value QUANTILES, so
    every bucket holds ~1/n of the rows — the histogram that stays
    readable under heavy tails, where the equi-width form
    (value_histogram) puts 99% of mass in one bar. Also the optimizer's
    histogram of choice: equi-depth bounds per-bucket selectivity error
    by 1/n regardless of the distribution.

    Bucket membership is pure threshold arithmetic over the internal
    cutpoints (bucket = Σ 1[v > c_i]), identically restatable in SQL —
    ties at a cutpoint land in the lower bucket on both engines, and
    duplicate cutpoints (mass spikes) simply yield empty buckets
    between repeated edges rather than engine-divergent splits. NULLs
    are excluded. Output: (group..., bucket, lo, hi, n_rows) with
    lo/hi the actual quantile edges (6 dp).

    Shape: one exact-percentile agg per group (array of n+1 quantiles;
    the sort-based exact path — swap percentile_approx at 100 TB, same
    mergeable pattern as robust_scale) → broadcast edges back → narrow
    bucket projection → one partial-combined count agg.
    """
    groups = list(group_cols or [])
    v = F.col(value_col).cast("double")
    probs = [i / n_buckets for i in range(n_buckets + 1)]
    base = df.filter(v.isNotNull())
    gb = base.groupBy(*groups) if groups else base.groupBy()
    edges = gb.agg(
        F.percentile(
            v, F.array(*[F.lit(p) for p in probs])
        ).alias("__edges")
    )
    if groups:
        j = base.join(F.broadcast(edges), groups)
    else:
        j = base.crossJoin(F.broadcast(edges))
    bucket = sum(
        (v > F.col("__edges")[i]).cast("int") for i in range(1, n_buckets)
    )
    counted = j.select(
        *groups, bucket.alias("bucket"), F.col("__edges")
    ).groupBy(*groups, "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.first("__edges").alias("__edges"),
    )
    return counted.select(
        *groups,
        F.col("bucket").cast("long"),
        F.round(F.col("__edges")[F.col("bucket")], 6).alias("lo"),
        F.round(F.col("__edges")[F.col("bucket") + 1], 6).alias("hi"),
        F.col("n_rows").cast("long"),
    )


def topn_groups_with_other(
    df: DataFrame,
    group_col: str,
    value_col: str | None = None,
    n: int = 10,
    other_label: str = "__other__",
) -> DataFrame:
    """Cardinality-capped group-by for dataset cards and dashboards: the
    top-`n` groups by aggregate keep their rows; everything else rolls
    into ONE `other_label` bucket — the report stays n+1 rows no matter
    how many distinct groups exist (a host/domain table with 10M
    distinct keys is unreadable and unplottable; this is the standard
    presentation cap, with the mass CONSERVED rather than truncated —
    sum(top) + other == sum(all), which silent top-N reporting loses).

    Aggregate is count(*) when `value_col` is None, else sum(value).
    Determinism: ties at the n-th slot break by group key ascending.

    Shape: ONE partial-combined agg to the group table, a group-sized
    rank window, then a second TINY agg over at most (distinct-groups)
    rows that collapses the tail — the raw rows shuffle once.

    Output: (group_col STRING, agg_value, is_other BOOLEAN).
    """
    from pyspark.sql.window import Window as W

    agg_expr = (
        F.count(F.lit(1)) if value_col is None else F.sum(F.col(value_col))
    )
    per_group = df.groupBy(
        F.col(group_col).cast("string").alias(group_col)
    ).agg(agg_expr.alias("agg_value"))
    w = W.orderBy(F.col("agg_value").desc(), F.col(group_col))
    ranked = per_group.withColumn("__rk", F.row_number().over(w))
    relabeled = ranked.select(
        F.when(F.col("__rk") <= int(n), F.col(group_col))
        .otherwise(F.lit(other_label))
        .alias(group_col),
        "agg_value",
    )
    return relabeled.groupBy(group_col).agg(
        F.sum("agg_value").alias("agg_value"),
        F.max(F.col(group_col) == other_label).alias("is_other"),
    )
