"""Dedup operators: the reference's flagship argmax-dedup + LLM-pipeline dedup.

`latest_per_group` is THE query the reference exists for
(/root/reference/src/main.rs:252-278): keep, per (premise_code, item_code),
the row with the max date. The reference implements it with SQLite's
implementation-defined bare-column GROUP BY over an ORDER BY subquery; here
the semantics are pinned deterministically (SURVEY §2.4 caveat): max order
key per group, explicit tie-break.

Scale notes (100 TB stance):
- latest_per_group is a single hash-shuffle on the group keys. The window
  variant sorts within partitions; the max_by variant is a partial + final
  SortAggregate, not a hash aggregate, because its struct buffer is not
  fixed-width. Its map side (sort, then partial aggregate) runs in one task
  per input row group and combines before the shuffle, so much less shuffle
  IO when groups repeat within a row group. Both provided; max_by is the
  default at scale.
- exact_dedup is a hash aggregate on a digest — shuffle carries only
  (digest, min_id), not document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic argmax-per-group via row_number window.

    Reference: src/main.rs:254-263 (`SELECT * FROM (SELECT * FROM prices
    ORDER BY date desc) GROUP BY premise_code, item_code`). Deterministic
    rebuild: ORDER BY order_col DESC, tiebreaks DESC; rank 1 wins.

    Physical plan: one hash exchange on group_cols + in-partition sort.
    AQE coalesces post-shuffle partitions; skewed groups are rare for
    (premise, item) but the sort is bounded per group regardless.
    """
    order = [F.col(order_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_group_maxby(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Argmax-per-group as an aggregate: max_by(struct(payload), orderkey).

    Same result as latest_per_group but executed as a partial + final
    SortAggregate (a struct aggregation buffer is not fixed-width, so Spark
    cannot hash-aggregate it). The map side sorts and partially aggregates
    in one task per input row group, so at 100 TB this shuffles one row per
    (group, mapper) instead of every input row, typically a 10-100x shuffle
    reduction for hot groups. Preferred at scale when the full row payload
    is modest.
    """
    payload_cols = [c for c in df.columns]
    order_key = F.struct(
        *[F.col(order_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    )
    agg = df.groupBy(*group_cols).agg(
        F.max_by(F.struct(*payload_cols), order_key).alias("__best")
    )
    return agg.select(*[F.col(f"__best.{c}").alias(c) for c in payload_cols])


def assert_unique_key(df: DataFrame, key_cols: list[str]) -> None:
    """Strict variant: raise if the key is not unique (one aggregate job)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("d"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"unique key violated on {key_cols}: {row['n']} rows, {row['d']} keys "
            "(reference aborts via unique-index insert, src/main.rs:42,57)"
        )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup via content digest (LLM-pipeline extension).

    Groups by md5(text) — the shuffle carries only (digest, id), not the
    text payload, so this scales to arbitrary corpus size. Returns one row
    per distinct content: (content_hash, keep_id = min id, dup_count).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return the surviving rows (min id per distinct text), full payload."""
    keep = exact_dedup(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def golden_record(
    df: DataFrame,
    key_cols: str | list[str],
    priority_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Survivorship merge (the MDM "golden record"): one row per key,
    where EACH value column independently takes its highest-priority
    non-null observation (priority = smallest `priority_col`; ties
    broken by the smaller priority value being deterministic input
    contract).  This is the column-wise generalization of the flagship
    latest-per-group dedup: argmax picks whole ROWS, survivorship picks
    per-COLUMN — a record assembled from multiple sources, each field
    from the most trusted source that actually has it.

    A key whose observations are all-null in some column keeps NULL
    there (no value is invented); keys never disappear.

    Shape: ONE partial-combined aggregation — each column compiles to
    max_by(value, -priority) over the non-null observations, so every
    mapper ships one champion per (local key, column) and the exchange
    carries one partial row per key regardless of observation fan-in.
    Same cost envelope as latest_per_group_maxby, `len(value_cols)`
    aggregates wide.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    prio = F.col(priority_col)
    aggs = [
        F.max_by(
            F.col(c), F.when(F.col(c).isNotNull(), -prio)
        ).alias(c)
        for c in value_cols
    ]
    return df.groupBy(*keys).agg(*aggs)


def dedup_within_time_window(
    df: DataFrame,
    key_cols: str | list[str],
    ts_seconds: Column,
    window_seconds: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Time-windowed exact dedup: a row survives unless the SAME key
    occurred within the preceding `window_seconds`.  Emails re-sent
    within an hour, repeated webhook deliveries, double-clicks:
    suppressed; genuine recurrences beyond the horizon: kept.

    Chain semantics: each occurrence is compared to its IMMEDIATE
    predecessor (kept or dropped), so a chain of sub-window gaps
    suppresses everything after the first row: the horizon refreshes on
    every arrival, not only on emissions.

    Shape: ONE key exchange + in-partition sort (lag window) + narrow
    filter — the flagship cost envelope.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [ts_seconds] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    prev = F.lag(ts_seconds).over(w)
    return (
        df.withColumn("__prev_s", prev)
        .filter(
            F.col("__prev_s").isNull()
            | (ts_seconds - F.col("__prev_s") > int(window_seconds))
        )
        .drop("__prev_s")
    )
