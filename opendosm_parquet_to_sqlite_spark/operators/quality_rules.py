"""Declarative data-quality rules — the expectations gate before a table
is trusted downstream.

The reference validates nothing (a column reorder upstream would silently
corrupt its output — SURVEY §1.2); the engine's schema layer closes the
structural half (parquet-footer verification in sources/parquet.py), and
this module closes the VALUE half: a small rule vocabulary compiled into
ONE aggregation pass returning a per-rule violation report.

Rule vocabulary (each compiles to a native boolean expression per row):

- not_null(col)
- in_range(col, lo, hi)          — NULLs don't violate range (not_null
                                   is its own rule; double-counting a
                                   missing value as a range breach would
                                   misattribute the defect)
- in_set(col, values)
- unique(col)                    — violations = rows beyond the first
                                   per duplicated value (count - distinct)
- refers_to(col, dim_df, dim_col) — foreign-key coverage; compiled to a
                                   broadcast-set membership test when the
                                   referenced key set is dimension-sized

Shape: all row-level rules evaluate in one narrow projection feeding ONE
partial-combined aggregate (per-rule conditional sums) — the report costs
one scan + a mapper-count-sized exchange regardless of how many rules are
attached.  `unique` adds its distinct-count term to the SAME aggregate;
`refers_to` precollects the dim key set (dimension-sized by contract —
for fact-fact referential checks use an anti-join, see orphan_check).

Output: rule (string), col, n_violations (long), n_checked (long),
violation_rate (6 dp) — one row per rule, deterministic order-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Rule:
    def __init__(self, name: str, col: str):
        self.name = name
        self.col = col

    def violation(self, df: DataFrame) -> Column:  # pragma: no cover
        raise NotImplementedError

    def checked(self) -> Column:
        return F.lit(1)


class not_null(Rule):
    def __init__(self, col: str):
        super().__init__("not_null", col)

    def violation(self, df):
        return F.col(self.col).isNull().cast("int")


class in_range(Rule):
    def __init__(self, col: str, lo: float, hi: float):
        super().__init__(f"in_range[{lo},{hi}]", col)
        self.lo, self.hi = lo, hi

    def violation(self, df):
        c = F.col(self.col)
        return (
            c.isNotNull()
            & ((c < F.lit(self.lo)) | (c > F.lit(self.hi)))
        ).cast("int")


class in_set(Rule):
    def __init__(self, col: str, values: list):
        super().__init__("in_set", col)
        self.values = list(values)

    def violation(self, df):
        c = F.col(self.col)
        return (
            c.isNotNull() & ~c.isin(self.values)
        ).cast("int")


class unique(Rule):
    """Handled specially: needs count - count(distinct), not a row flag."""

    def __init__(self, col: str):
        super().__init__("unique", col)

    def violation(self, df):
        return F.lit(0)  # replaced in the aggregate


class refers_to(Rule):
    def __init__(self, col: str, dim_df: DataFrame, dim_col: str):
        super().__init__("refers_to", col)
        self.dim_df = dim_df
        self.dim_col = dim_col

    def violation(self, df):
        keys = [
            r[0]
            for r in self.dim_df.select(self.dim_col).distinct().collect()
        ]
        c = F.col(self.col)
        return (c.isNotNull() & ~c.isin(keys)).cast("int")


def quality_report(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate every rule in ONE aggregation pass; see module docstring."""
    aggs = []
    names = []
    for i, r in enumerate(rules):
        names.append((r.name, r.col))
        if isinstance(r, unique):
            aggs.append(
                (
                    F.count(F.col(r.col))
                    - F.count_distinct(F.col(r.col))
                ).alias(f"__v{i}")
            )
        else:
            aggs.append(F.sum(r.violation(df)).alias(f"__v{i}"))
        aggs.append(F.count(r.checked()).alias(f"__c{i}"))
    row = df.agg(*aggs)
    parts = []
    for i, (name, col) in enumerate(names):
        parts.append(
            F.struct(
                F.lit(name).alias("rule"),
                F.lit(col).alias("col"),
                F.col(f"__v{i}").cast("long").alias("n_violations"),
                F.col(f"__c{i}").cast("long").alias("n_checked"),
            )
        )
    exploded = row.select(
        F.explode(F.array(*parts)).alias("r")
    ).select("r.rule", "r.col", "r.n_violations", "r.n_checked")
    return exploded.withColumn(
        "violation_rate",
        F.round(F.col("n_violations") / F.col("n_checked"), 6),
    )


def fd_violations(
    df: DataFrame,
    lhs: str | list[str],
    rhs: str,
) -> DataFrame:
    """Functional-dependency audit: keys on the LHS that map to MORE THAN
    ONE distinct RHS value — the "same premise code, different premise
    name" class of dirty-dimension bug that silently fans out joins and
    double-counts aggregates downstream. (The reference's lookup tables
    assume item_code → item is functional; this is the check that
    assumption deserves.)

    Output: LHS cols + (n_values BIGINT, n_rows BIGINT, sample_values
    array<string> — up to 5 distinct conflicting values, sorted, for the
    error message). Only violating keys are returned; an empty result IS
    the pass verdict.

    Shape: ONE partial-combined agg keyed on LHS (count_distinct
    partials + a capped sorted slice of collect_set for the samples) +
    a HAVING filter. NULL RHS values are excluded (missing is handled by
    not_null, not by the FD check); NULL LHS keys group as their own key
    like any GROUP BY.
    """
    from ..parallelism import fan_out

    lcols = [lhs] if isinstance(lhs, str) else list(lhs)
    # narrow projection first, then the small-scan rescue (no-op at any
    # real scale): the count_distinct/collect_set partials are the
    # expensive side of this one-agg plan, and on a few-split source
    # they ran in the 3 scan tasks (1.6 s of a 2.3 s profile at sf0.1)
    base = fan_out(
        df.filter(F.col(rhs).isNotNull()).select(*lcols, rhs)
    )
    return (
        base.groupBy(*lcols)
        .agg(
            F.count_distinct(F.col(rhs)).alias("n_values"),
            F.count(F.lit(1)).alias("n_rows"),
            F.slice(
                F.array_sort(F.collect_set(F.col(rhs).cast("string"))), 1, 5
            ).alias("sample_values"),
        )
        .filter(F.col("n_values") > 1)
    )


def benford_check(
    df: DataFrame,
    value_col: str,
    group_cols: str | list[str] | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    cheap anomaly sniff for machine-generated/fabricated numeric columns
    (organic multi-scale magnitudes follow log10(1+1/d); synthetic or
    truncated feeds don't). Reported as the chi-square distance and the
    max absolute digit-share deviation, per group.

    Only |v| >= 1 rows participate (leading digit of a decimal fraction
    needs string gymnastics that differ across engines; magnitude-1+
    covers prices/counts, the Benford use case). First digit via
    floor(|v| / 10^floor(log10(|v|))) — pure arithmetic, engine-portable.

    Output per group: (n BIGINT, chi2, max_dev) rounded to `ndigits`.

    Shape: narrow digit projection → ONE partial-combined (group, digit)
    agg (≤ 9 rows per group) → window shares → final tiny agg.
    """
    gcols = (
        [group_cols] if isinstance(group_cols, str)
        else list(group_cols or [])
    )
    from pyspark.sql.window import Window as W

    v = F.abs(F.col(value_col).cast("double"))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    cells = (
        df.filter(v >= 1.0)
        .select(*gcols, digit.alias("__d"))
        .groupBy(*gcols, "__d")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wg = W.partitionBy(*gcols) if gcols else W.partitionBy()
    n = F.sum("__c").over(wg)
    share = F.col("__c") / n
    expected = F.log10(1.0 + 1.0 / F.col("__d"))
    scored = cells.select(
        *gcols,
        F.col("__c"),
        n.alias("__n"),
        share.alias("__share"),
        expected.alias("__exp"),
    )
    return scored.groupBy(*gcols).agg(
        F.max("__n").cast("long").alias("n"),
        F.round(
            F.sum(
                (F.col("__share") - F.col("__exp"))
                * (F.col("__share") - F.col("__exp"))
                / F.col("__exp")
            )
            * F.max("__n"),
            ndigits,
        ).alias("chi2"),
        F.round(
            F.max(F.abs(F.col("__share") - F.col("__exp"))), ndigits
        ).alias("max_dev"),
    )


def column_entropy(
    df: DataFrame,
    cols: list[str],
    ndigits: int = 6,
) -> DataFrame:
    """Shannon entropy (nats) + distinct ratio per column — the
    key-vs-category detector profiling pipelines run before choosing
    join/partition keys (entropy ≈ ln n_rows ⇒ near-unique key;
    entropy ≈ 0 ⇒ constant; anything between sizes dictionary/bucketing
    choices). One stacked pass: each column's values project to
    (col_name, value_str) rows — a narrow union, no per-column scan
    fan-out — then ONE (col, value) agg + one col-sized agg.

    NULLs count as a regular category (a 99%-NULL column should read as
    low-entropy, not as entropy-of-the-tail).

    Output: (column, n_rows BIGINT, n_distinct BIGINT, entropy,
    distinct_ratio) — rounded to `ndigits`.
    """
    stacked = None
    for c in cols:
        part = df.select(
            F.lit(c).alias("column"),
            F.coalesce(F.col(c).cast("string"), F.lit("␀")).alias("__v"),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    counts = stacked.groupBy("column", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    from pyspark.sql.window import Window as W

    n = F.sum("__c").over(W.partitionBy("column"))
    p = F.col("__c") / n
    return (
        counts.select("column", F.col("__c"), n.alias("__n"), p.alias("__p"))
        .groupBy("column")
        .agg(
            F.max("__n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(-F.sum(F.col("__p") * F.log(F.col("__p"))), ndigits).alias(
                "entropy"
            ),
            F.round(
                F.count(F.lit(1)) / F.max("__n").cast("double"), ndigits
            ).alias("distinct_ratio"),
        )
    )
